"""Biconnected components + articulation points — Tarjan–Vishkin.

Reference: gs::BCCFlash / gs::CutPointFlash
(/root/reference/analytical_engine/apps/flash/connectivity/bcc.h,
cut-point.h): biconnected components and cut vertices. The reference's
FLASH formulation leans on DFS-order low-links; DFS is inherently
token-sequential, so the rebuild uses the Tarjan–Vishkin construction,
THE textbook data-parallel biconnectivity algorithm — it works on an
ARBITRARY rooted spanning forest (here: the deterministic BFS forest):

  1. spanning forest (vid, depth, parent) — one BFS;
  2. subtree sizes (leaf-to-root sweep) and per-tree preorder numbers
     (root-to-leaf sweep with sibling prefix sums — a per-parent window,
     never a global one);
  3. low/high: min/max preorder reachable from each subtree via one
     non-tree edge (base at each vertex, then a leaf-to-root sweep);
  4. auxiliary graph on TREE EDGES (edge (parent(v), v) ≡ v):
       R1: non-tree edge {u, v} with u, v unrelated (disjoint preorder
           intervals) → aux edge {u, v};
       R2: tree edge (w, v) with non-root w: if low(v) < pre(w) or
           high(v) ≥ pre(w) + sz(w) (the subtree escapes w's interval)
           → aux edge {v, w};
  5. connected components of the aux graph (the shared HashMin
     fixpoint, ``hashmin`` in operators/wcc.py) = the
     biconnected components; a non-tree edge inherits the component of
     its deeper endpoint's tree edge.

  Cut vertices: a root with child edges in ≥2 distinct components, or a
  non-root v with some child edge in a different component than v's own
  parent edge. Bridges fall out as single-edge components (cross-checked
  in tests against the XOR-sweep ``bridges`` operator).

Every step is O(depth) rounds of joins/aggregations over the stable
edge table — no DFS, no per-vertex recursion, no global window. Each
level loop is a ``FixpointJob`` of max_depth steps (bridges' ``_sweep_up``
for the two leaf-to-root sweeps).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from graphscope_spark.graph import LinkGraph
from graphscope_spark.operators.bridges import (_bfs_forest, _non_tree_edges,
                                               _sweep_up)
from graphscope_spark.operators.wcc import hashmin
from graphscope_spark.runtime.superstep import (FixpointJob, SuperstepRunner,
                                                free_truncated, truncate)


def _tree_with_pre(graph: LinkGraph):
    """(tree, max_depth): BFS forest + subtree size + per-tree preorder;
    tree (vid, depth, parent, sz, before, pre, chg) is the caller's to free."""
    forest, max_depth = _bfs_forest(graph)
    # subtree sizes: leaf-to-root
    sized = _sweep_up(
        "bcc_subtree_size",
        forest.select("vid", "depth", "parent", F.lit(1).alias("sz")),
        max_depth, [F.sum("sz").alias("csz")],
        {"sz": F.col("sz") + F.coalesce("csz", F.lit(0))})
    free_truncated(forest)
    # preorder: root-to-leaf; children ordered by vid within each parent.
    # ``pre`` is null until step ``depth`` assigns it (``chg``)
    w = Window.partitionBy("parent").orderBy("vid")
    cols = ["vid", "depth", "parent", "sz"]
    kids = sized.filter(F.col("parent").isNotNull()).select(
        *cols, (F.sum("sz").over(w) - F.col("sz")).alias("before"),
        F.lit(None).cast("long").alias("pre"))
    roots = sized.filter(F.col("parent").isNull()).select(
        *cols, F.lit(0).cast("long").alias("before"),
        F.lit(0).cast("long").alias("pre"))

    def step(state: DataFrame, s: int) -> DataFrame:
        par = state.filter(F.col("depth") == s - 1).select(
            F.col("vid").alias("parent"), F.col("pre").alias("ppre"))
        return state.join(par, "parent", "left").select(
            *cols, "before",
            F.coalesce("pre", F.col("ppre") + 1 + F.col("before")).alias("pre"),
            F.col("ppre").isNotNull().alias("chg"))

    tree, _ = SuperstepRunner(graph.spark).run(
        FixpointJob("bcc_preorder", kids.unionByName(roots), step),
        max_steps=max_depth)
    free_truncated(sized)
    return tree, max_depth


def _bcc_labels(graph: LinkGraph):
    """Internal: (tree, non-tree edges nt, comp_of_tree_edge lab(vid,
    comp)); the caller frees all three."""
    tree, max_depth = _tree_with_pre(graph)
    non_tree = truncate(_non_tree_edges(graph, tree))

    pr = tree.select("vid", "pre", "sz", "depth", "parent")
    nt = truncate(
        non_tree
        .join(pr.select(F.col("vid").alias("lo"), F.col("pre").alias("pre_lo"),
                        F.col("sz").alias("sz_lo"), F.col("depth").alias("d_lo")),
              "lo")
        .join(pr.select(F.col("vid").alias("hi"), F.col("pre").alias("pre_hi"),
                        F.col("sz").alias("sz_hi"), F.col("depth").alias("d_hi")),
              "hi")
    )
    free_truncated(non_tree)

    # ---- low/high: base from incident non-tree partners, then sweep ----
    partner = (
        nt.select(F.col("lo").alias("vid"), F.col("pre_hi").alias("ppre"))
        .unionByName(nt.select(F.col("hi").alias("vid"),
                               F.col("pre_lo").alias("ppre")))
        .groupBy("vid").agg(F.min("ppre").alias("blo"),
                            F.max("ppre").alias("bhi"))
    )
    lh = _sweep_up(
        "bcc_low_high",
        tree.join(partner, "vid", "left")
        .select("vid", "depth", "parent", "pre", "sz",
                F.least("pre", F.coalesce("blo", "pre")).alias("low"),
                F.greatest("pre", F.coalesce("bhi", "pre")).alias("high")),
        max_depth, [F.min("low").alias("clow"), F.max("high").alias("chigh")],
        {"low": F.least("low", F.coalesce("clow", "low")),
         "high": F.greatest("high", F.coalesce("chigh", "high"))})

    # ---- aux graph on tree edges (edge (p(v), v) ≡ v) ------------------
    # R1: unrelated non-tree endpoints (disjoint intervals, same tree)
    unrelated = (
        (F.col("pre_hi") >= F.col("pre_lo") + F.col("sz_lo"))
        | (F.col("pre_lo") >= F.col("pre_hi") + F.col("sz_hi"))
    )
    r1 = nt.filter(unrelated).select(F.col("lo").alias("src"),
                                     F.col("hi").alias("dst"))
    # R2: child v escapes its (non-root) parent w's interval
    pw = lh.select(F.col("vid").alias("parent"), F.col("pre").alias("wpre"),
                   F.col("sz").alias("wsz"),
                   F.col("parent").alias("gparent"))
    r2 = (
        lh.filter(F.col("parent").isNotNull())
        .join(pw, "parent")
        .filter(F.col("gparent").isNotNull()
                & ((F.col("low") < F.col("wpre"))
                   | (F.col("high") >= F.col("wpre") + F.col("wsz"))))
        .select(F.col("vid").alias("src"), F.col("parent").alias("dst"))
    )
    aux = truncate(r1.unionByName(r2).distinct())
    free_truncated(lh)
    aux_sym = aux.unionByName(
        aux.select(F.col("dst").alias("src"), F.col("src").alias("dst")))

    # ---- components of the aux graph: WCC's HashMin -------------------
    lab = hashmin(aux_sym, tree.filter(F.col("parent").isNotNull())
                  .select("vid", F.col("vid").alias("comp")))
    free_truncated(aux)
    return tree, nt, lab


def _bcc_edge_labels(tree, nt, lab) -> DataFrame:
    """(src, dst, bcc) from a _bcc_labels result."""
    tree_out = (
        tree.filter(F.col("parent").isNotNull())
        .join(lab, "vid")
        .select(F.least("parent", "vid").alias("src"),
                F.greatest("parent", "vid").alias("dst"), "comp")
    )
    # non-tree edge joins its deeper endpoint's tree edge component
    deeper = F.when(F.col("d_lo") >= F.col("d_hi"), F.col("lo")) \
        .otherwise(F.col("hi"))
    nt_out = (
        nt.select("lo", "hi", deeper.alias("dv"))
        .join(lab.withColumnRenamed("vid", "dv"), "dv")
        .select(F.col("lo").alias("src"), F.col("hi").alias("dst"), "comp")
    )
    return tree_out.unionByName(nt_out).withColumnRenamed("comp", "bcc")


def _articulation_vids(tree, nt, lab) -> DataFrame:
    """(vid) cut vertices from a _bcc_labels result (``nt`` unused)."""
    child_edges = tree.filter(F.col("parent").isNotNull()).select(
        "vid", "parent").join(lab, "vid")
    roots = (
        child_edges.join(
            tree.filter(F.col("parent").isNull()).select(
                F.col("vid").alias("parent")), "parent", "left_semi")
        .groupBy("parent").agg(F.countDistinct("comp").alias("nc"))
        .filter(F.col("nc") >= 2)
        .select(F.col("parent").alias("vid"))
    )
    own = lab.withColumnRenamed("comp", "own_comp") \
        .withColumnRenamed("vid", "parent")
    nonroots = (
        child_edges.join(own, "parent")
        .filter(F.col("comp") != F.col("own_comp"))
        .select(F.col("parent").alias("vid")).distinct()
    )
    return roots.unionByName(nonroots).distinct()


def _bcc_outputs(graph: LinkGraph, *outputs) -> list[DataFrame]:
    """``truncate(f(tree, nt, lab))`` for each f in ``outputs`` from ONE
    _bcc_labels run, whose frames are freed once those are materialized."""
    tree, nt, lab = _bcc_labels(graph)
    try:
        return [truncate(f(tree, nt, lab)) for f in outputs]
    finally:
        for df in (tree, nt, lab):
            free_truncated(df)


def bcc_and_articulation(graph: LinkGraph) -> tuple[DataFrame, DataFrame]:
    """((src, dst, bcc), (vid)) — both outputs from ONE _bcc_labels
    pipeline run (BFS forest + preorder sweeps + aux-graph fixpoint are
    the expensive multi-round part; callers needing both — e.g. the
    contract's bcc + articulation_points over the same graph — pay it
    once)."""
    return tuple(_bcc_outputs(graph, _bcc_edge_labels, _articulation_vids))


def biconnected_components(graph: LinkGraph) -> DataFrame:
    """(src, dst, bcc) — canonical (src < dst) simple undirected edges
    labeled by biconnected component (label = min tree-edge child vid in
    the component)."""
    return _bcc_outputs(graph, _bcc_edge_labels)[0]


def articulation_points(graph: LinkGraph) -> DataFrame:
    """(vid) — cut vertices: roots with ≥2 distinct child-edge
    components; non-roots with a child edge outside their own parent
    edge's component."""
    return _bcc_outputs(graph, _articulation_vids)[0]
