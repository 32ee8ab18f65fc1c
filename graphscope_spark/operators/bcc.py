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
  5. connected components of the aux graph (HashMin fixpoint) = the
     biconnected components; a non-tree edge inherits the component of
     its deeper endpoint's tree edge.

  Cut vertices: a root with child edges in ≥2 distinct components, or a
  non-root v with some child edge in a different component than v's own
  parent edge. Bridges fall out as single-edge components (cross-checked
  in tests against the XOR-sweep ``bridges`` operator).

Every step is O(depth) rounds of joins/aggregations over the stable
edge table — no DFS, no per-vertex recursion, no global window.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from graphscope_spark.graph import LinkGraph
from graphscope_spark.operators.bridges import _bfs_forest
from graphscope_spark.runtime.superstep import Truncator, truncate


def _tree_with_pre(graph: LinkGraph, t: Truncator):
    """BFS forest + subtree size + per-tree preorder.
    Returns (tree_df(vid, depth, parent, sz, pre), max_depth)."""
    tree, max_depth = _bfs_forest(graph, t)
    tree = t(tree, "tree")
    # subtree sizes: leaf-to-root
    state = t(tree.withColumn("sz", F.lit(1)), "sz")
    for d in range(max_depth, 0, -1):
        up = (
            state.filter(F.col("depth") == d)
            .groupBy(F.col("parent").alias("vid"))
            .agg(F.sum("sz").alias("csz"))
        )
        state = t(
            state.join(up, "vid", "left")
            .select("vid", "depth", "parent",
                    (F.col("sz") + F.coalesce("csz", F.lit(0))).alias("sz")),
            "sz")
    # preorder: root-to-leaf; children ordered by vid within each parent
    w = Window.partitionBy("parent").orderBy("vid")
    kids = state.filter(F.col("parent").isNotNull()).select(
        "vid", "depth", "parent", "sz",
        (F.sum("sz").over(w) - F.col("sz")).alias("before"))
    kids = t(kids, "kids")
    pre = t(state.filter(F.col("parent").isNull())
            .select("vid", F.lit(0).alias("pre")), "pre")
    acc = pre
    for d in range(1, max_depth + 1):
        lvl = (
            kids.filter(F.col("depth") == d)
            .join(pre.withColumnRenamed("vid", "parent")
                  .withColumnRenamed("pre", "ppre"), "parent")
            .select("vid",
                    (F.col("ppre") + 1 + F.col("before")).alias("pre"))
        )
        pre = t(lvl, "pre_lvl")
        acc = t(acc.unionByName(pre), "pre")
    out = t(state.join(acc, "vid"), "tree_full")
    for slot in ("tree", "sz", "kids", "pre_lvl"):
        t.free(slot)
    return out, max_depth


def _bcc_labels(graph: LinkGraph):
    """Internal: (tree_full, non_tree, comp_of_tree_edge(vid, comp),
    max_depth, truncator)."""
    t = Truncator()
    tree, max_depth = _tree_with_pre(graph, t)
    tree_edges = tree.filter(F.col("parent").isNotNull())
    canon = graph.und_edges().filter(F.col("src") < F.col("dst")) \
        .select(F.col("src").alias("lo"), F.col("dst").alias("hi"))
    te_canon = tree_edges.select(
        F.least("parent", "vid").alias("lo"),
        F.greatest("parent", "vid").alias("hi"))
    non_tree = t(canon.join(te_canon, ["lo", "hi"], "left_anti"), "non_tree")

    pr = tree.select("vid", "pre", "sz", "depth", "parent")
    nt = (
        non_tree
        .join(pr.select(F.col("vid").alias("lo"), F.col("pre").alias("pre_lo"),
                        F.col("sz").alias("sz_lo"), F.col("depth").alias("d_lo")),
              "lo")
        .join(pr.select(F.col("vid").alias("hi"), F.col("pre").alias("pre_hi"),
                        F.col("sz").alias("sz_hi"), F.col("depth").alias("d_hi")),
              "hi")
    )
    nt = t(nt, "nt")

    # ---- low/high: base from incident non-tree partners, then sweep ----
    partner = (
        nt.select(F.col("lo").alias("vid"), F.col("pre_hi").alias("ppre"))
        .unionByName(nt.select(F.col("hi").alias("vid"),
                               F.col("pre_lo").alias("ppre")))
        .groupBy("vid").agg(F.min("ppre").alias("blo"),
                            F.max("ppre").alias("bhi"))
    )
    lh = t(
        tree.join(partner, "vid", "left")
        .select("vid", "depth", "parent", "pre", "sz",
                F.least("pre", F.coalesce("blo", "pre")).alias("low"),
                F.greatest("pre", F.coalesce("bhi", "pre")).alias("high")),
        "lh")
    for d in range(max_depth, 0, -1):
        up = (
            lh.filter(F.col("depth") == d)
            .groupBy(F.col("parent").alias("vid"))
            .agg(F.min("low").alias("clow"), F.max("high").alias("chigh"))
        )
        lh = t(
            lh.join(up, "vid", "left")
            .select("vid", "depth", "parent", "pre", "sz",
                    F.least("low", F.coalesce("clow", "low")).alias("low"),
                    F.greatest("high", F.coalesce("chigh", "high")).alias("high")),
            "lh")

    # ---- aux graph on tree edges (edge (p(v), v) ≡ v) ------------------
    # R1: unrelated non-tree endpoints (disjoint intervals, same tree)
    unrelated = (
        (F.col("pre_hi") >= F.col("pre_lo") + F.col("sz_lo"))
        | (F.col("pre_lo") >= F.col("pre_hi") + F.col("sz_hi"))
    )
    r1 = nt.filter(unrelated).select(F.col("lo").alias("a"),
                                     F.col("hi").alias("b"))
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
        .select(F.col("vid").alias("a"), F.col("parent").alias("b"))
    )
    aux = t(r1.unionByName(r2).distinct(), "aux")
    aux_sym = aux.unionByName(
        aux.select(F.col("b").alias("a"), F.col("a").alias("b")))

    # ---- components of the aux graph: HashMin fixpoint -----------------
    lab = t(tree.filter(F.col("parent").isNotNull())
            .select("vid", F.col("vid").alias("comp")), "lab")
    while True:
        msgs = (
            aux_sym.join(lab.withColumnRenamed("vid", "a")
                         .withColumnRenamed("comp", "ac"), "a")
            .groupBy(F.col("b").alias("vid")).agg(F.min("ac").alias("mc"))
        )
        new_lab = (
            lab.join(msgs, "vid", "left")
            .select("vid",
                    F.least("comp", F.coalesce("mc", "comp")).alias("comp"),
                    F.coalesce(F.col("mc") < F.col("comp"), F.lit(False))
                    .alias("chg"))
        )
        new_lab = t(new_lab, "lab")
        changed = new_lab.agg(F.sum(F.col("chg").cast("long"))).first()[0] or 0
        lab = new_lab.drop("chg")
        if changed == 0:
            break
    return tree, nt, lab, max_depth, t


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


def _articulation_vids(tree, lab) -> DataFrame:
    """(vid) cut vertices from a _bcc_labels result."""
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


def bcc_and_articulation(graph: LinkGraph) -> tuple[DataFrame, DataFrame]:
    """((src, dst, bcc), (vid)) — both outputs from ONE _bcc_labels
    pipeline run (BFS forest + preorder sweeps + aux-graph fixpoint are
    the expensive multi-round part; callers needing both — e.g. the
    contract's bcc + articulation_points over the same graph — pay it
    once)."""
    tree, nt, lab, _, t = _bcc_labels(graph)
    edges = truncate(_bcc_edge_labels(tree, nt, lab))
    artic = truncate(_articulation_vids(tree, lab))
    t.close()
    return edges, artic


def biconnected_components(graph: LinkGraph) -> DataFrame:
    """(src, dst, bcc) — canonical (src < dst) simple undirected edges
    labeled by biconnected component (label = min tree-edge child vid in
    the component)."""
    tree, nt, lab, _, t = _bcc_labels(graph)
    out = truncate(_bcc_edge_labels(tree, nt, lab))
    t.close()
    return out


def articulation_points(graph: LinkGraph) -> DataFrame:
    """(vid) — cut vertices: roots with ≥2 distinct child-edge
    components; non-roots with a child edge outside their own parent
    edge's component."""
    tree, nt, lab, _, t = _bcc_labels(graph)
    out = truncate(_articulation_vids(tree, lab))
    t.close()
    return out
