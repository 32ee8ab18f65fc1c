"""Checkpoint-block reclamation: loop algorithms must not accumulate
localCheckpoint block RDDs (unpersist() never frees them; the superstep
runner frees each superseded state, and driver loops over runner jobs
free their per-round frames with ``free_truncated``)."""

from __future__ import annotations

import pytest

from graphscope_spark import LinkGraph
from tests.conftest import power_law_graph


def _persistent_count(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def _freed_graph_caches(spark, g) -> list[str]:
    """Names of the graph's cached tables/views whose column buffers were
    built (the cache's row accumulator counted rows) but are no longer
    registered as persistent RDDs, i.e. something unpersisted a cache
    the graph still owns."""
    cm = spark._jsparkSession.sharedState().cacheManager()
    live = {int(k) for k in
            spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray()}
    views = {name: df for name, df in vars(g).items()
             if name in ("edges", "vertices") or name.endswith("_edges")
             or name.endswith("_degrees")}
    views.update({f"_aux_cached[{i}]": df
                  for i, df in enumerate(g._aux_cached)})
    freed = []
    for name, df in views.items():
        if df is None:
            continue
        cached = cm.lookupCachedData(df._jdf)
        if not cached.isDefined():
            continue
        cache = cached.get().cachedRepresentation().cacheBuilder()
        if cache.rowCountStats().value() == 0:
            continue  # never materialized: cachedColumnBuffers() would build it
        if not (cache.isCachedColumnBuffersLoaded()
                and cache.cachedColumnBuffers().id() in live):
            freed.append(name)
    return freed


def _mk(spark, n=60, m=240, seed=8):
    vertices, edges = power_law_graph(n=n, m=m, seed=seed, with_dangling=False)
    return LinkGraph(
        spark, spark.createDataFrame(edges, "src LONG, dst LONG"),
        vertices=spark.createDataFrame([(v,) for v in vertices], "vid LONG"),
        num_partitions=2)


@pytest.mark.parametrize("algo", ["scc", "louvain", "betweenness",
                                  "core_numbers", "voterank", "mis",
                                  "ktruss", "bcc", "color",
                                  "fluid_community", "bridges", "k_center",
                                  "onion_layers", "maximal_matching",
                                  "kcore", "truss_number_max",
                                  "articulation_points", "edge_betweenness",
                                  "neighbor_sample", "simrank", "lpa_u2i",
                                  "sampling_path", "path_expand_path",
                                  "node2vec_walks", "min_vertex_cover",
                                  "min_dominating_set",
                                  "minimum_spanning_forest"])
def test_loop_algorithms_release_checkpoints(spark, algo, monkeypatch):
    from pyspark.sql import functions as F

    import graphscope_spark as gs
    from graphscope_spark.runtime.superstep import SuperstepRunner

    jobs = []
    real_run = SuperstepRunner.run

    def recording_run(self, job, *args, **kwargs):
        jobs.append(job.name)
        return real_run(self, job, *args, **kwargs)

    monkeypatch.setattr(SuperstepRunner, "run", recording_run)
    g = _mk(spark)
    before = _persistent_count(spark)
    if algo == "scc":
        gs.scc(g).count()
    elif algo == "louvain":
        gs.louvain(g, max_levels=2, max_rounds=4).count()
    elif algo == "betweenness":
        gs.betweenness_centrality(g, sources="all").count()
    elif algo == "core_numbers":
        gs.core_numbers(g).count()
    elif algo == "voterank":
        gs.voterank(g, num_seeds=5)
    elif algo == "mis":
        gs.mis(g).count()
    elif algo == "ktruss":
        gs.ktruss(g, 3).count()
    elif algo == "bcc":
        gs.biconnected_components(g).count()
    elif algo == "color":
        gs.color(g).count()
    elif algo == "fluid_community":
        # this graph never settles: the full 100 rounds take ~60 s
        gs.fluid_community(g, num_communities=3, max_rounds=5).count()
    elif algo == "bridges":
        gs.bridges(g).count()
    elif algo == "k_center":
        gs.k_center(g, k=3)[1].count()
    elif algo == "onion_layers":
        gs.onion_layers(g).count()
    elif algo == "maximal_matching":
        gs.maximal_matching(g).count()
    elif algo == "kcore":
        gs.kcore(g, 4).count()
    elif algo == "truss_number_max":
        gs.truss_number_max(g)
    elif algo == "articulation_points":
        gs.articulation_points(g).count()
    elif algo == "edge_betweenness":
        gs.edge_betweenness_centrality(g, sources="all").count()
    elif algo == "neighbor_sample":
        gs.neighbor_sample(g, [0, 1, 2], fanouts=(3, 2)).count()
    elif algo == "simrank":
        gs.simrank(g, iterations=2).count()
    elif algo == "lpa_u2i":
        u = g.vertices.select("vid", (F.col("vid") % 3 == 0)
                              .cast("double").alias("p0"))
        gs.lpa_u2i(spark, u, g.edges.withColumn("weight", F.lit(1.0)),
                   ["p0"], max_round=5).count()
    elif algo == "sampling_path":
        gs.sampling_path(g, num_paths=10, length=3).count()
    elif algo == "path_expand_path":
        gs.path_expand(g, [0, 1], min_hops=1, max_hops=2, mode="path").count()
    elif algo == "node2vec_walks":
        gs.node2vec_walks(g, length=3).count()
    elif algo == "min_vertex_cover":
        gs.min_vertex_cover(g).count()
    elif algo == "min_dominating_set":
        gs.min_dominating_set(g).count()
    elif algo == "minimum_spanning_forest":
        gs.minimum_spanning_forest(g).count()
    after = _persistent_count(spark)
    # a loop of k iterations used to leak ~k block sets; now at most a
    # handful of live result/graph-cache entries may remain
    leaked = after - before
    assert leaked <= 6, f"{algo} leaked {leaked} persistent RDDs"
    # reclamation frees only the loop's own checkpoint blocks, never a
    # graph cache the call happened to materialize first
    freed = _freed_graph_caches(spark, g)
    assert not freed, f"{algo} unpersisted graph caches {freed}"
    # every iterative operator's steps appear in runner history
    assert jobs, f"{algo} ran no runner job"
    g.unpersist_all()


def test_incremental_wcc_releases_blocks_per_batch(spark, tmp_path):
    """Each process_batch frees its fixpoint's blocks once the new state
    is published: a second batch leaves no more persistent RDDs than the
    first did."""
    from graphscope_spark.streaming import IncrementalWCC

    inc = IncrementalWCC(spark, str(tmp_path / "state"))
    inc.process_batch(spark.createDataFrame(
        [(0, 1), (2, 3), (4, 5)], "src LONG, dst LONG"))
    after_first = _persistent_count(spark)
    inc.process_batch(spark.createDataFrame(
        [(1, 2), (3, 4), (6, 7)], "src LONG, dst LONG"))
    after_second = _persistent_count(spark)
    assert {r["vid"]: r["comp"] for r in inc.labels().collect()} == {
        0: 0, 1: 0, 2: 0, 3: 0, 4: 0, 5: 0, 6: 6, 7: 6}
    # one-sided for the reason given in
    # test_pattern_match_directed_releases_edges: the ContextCleaner may
    # drop unrelated GC'd RDDs mid-test; only an increase is a leak
    assert after_second <= after_first, (
        f"IncrementalWCC leaked {after_second - after_first} RDD(s) per batch")


def test_incremental_minhash_dedup_releases_blocks_per_batch(spark, tmp_path):
    """Each process_batch frees its admission fixpoint's blocks (and its
    candidate-pair checkpoint) once the batch is written: a second batch
    leaves no more persistent RDDs than the first did."""
    from graphscope_spark.streaming import IncrementalMinHashDedup

    base = ("the quick brown fox jumps over the lazy dog again and again "
            "while the river runs east past the old mill and the stone "
            "bridge every single morning")
    other = ("completely different content about distributed query "
             "engines shuffle partitioning and adaptive execution plans")
    inc = IncrementalMinHashDedup(spark, str(tmp_path / "state"),
                                  sim_threshold=0.7)
    inc.process_batch(spark.createDataFrame(
        [(1, base), (2, other), (3, base)], "doc_id LONG, text STRING"))
    after_first = _persistent_count(spark)
    inc.process_batch(spark.createDataFrame(
        [(4, base.replace("morning", "evening")), (5, "a tiny fresh doc"),
         (6, "a tiny fresh doc")], "doc_id LONG, text STRING"))
    after_second = _persistent_count(spark)
    assert {r["doc_id"] for r in inc.kept().collect()} == {1, 2, 5}
    # one-sided, as in test_incremental_wcc_releases_blocks_per_batch
    assert after_second <= after_first, (
        f"IncrementalMinHashDedup leaked {after_second - after_first} "
        f"RDD(s) per batch")


def test_pattern_match_directed_releases_edges(spark):
    """Directed pattern matching must reuse the graph-cached simple view —
    no per-call persisted edge copy (each call used to leak one)."""
    from graphscope_spark.operators.pattern import pattern_count

    g = _mk(spark)
    tri = [("a", "b"), ("b", "c"), ("a", "c")]
    pattern_count(g, tri, directed=True)
    before = _persistent_count(spark)
    for _ in range(3):
        pattern_count(g, tri, directed=True)
    after = _persistent_count(spark)
    # one-sided: the JVM ContextCleaner may async-unpersist unrelated
    # GC'd RDDs mid-test (count can DROP under load); only an increase
    # is a leak
    assert after <= before, f"pattern_match leaked {after - before} RDD(s)"
    g.unpersist_all()


def test_triangles_reuse_cached_orientation(spark):
    """triangle family shares the graph-cached oriented view — repeated
    calls must not register new persistent RDDs (each call used to
    persist-and-leak its own oriented copy)."""
    import graphscope_spark as gs

    g = _mk(spark)
    gs.triangles(g).count()  # builds the cached orientation once
    before = _persistent_count(spark)
    for _ in range(3):
        gs.triangles(g).count()
    after = _persistent_count(spark)
    assert after <= before, f"triangles leaked {after - before} RDD(s)"
    g.unpersist_all()


@pytest.mark.parametrize("op", ["kcore", "kshell"])
def test_core_results_release_with_unpersist(spark, op):
    """kcore/kshell return a cache the caller frees with a plain
    ``unpersist()``: the peel's own checkpoint blocks are gone with it."""
    import graphscope_spark as gs

    g = _mk(spark)
    g.und_edges().count()  # the graph-lifetime view the peel reads
    before = _persistent_count(spark)
    out = getattr(gs, op)(g, 3)
    assert out.count() > 0
    out.unpersist()
    after = _persistent_count(spark)
    assert after <= before, f"{op} left {after - before} persistent RDD(s)"
    g.unpersist_all()


def test_vertex_file_build_leaves_no_cache(spark, tmp_path):
    """A CSV build with a vertex file keeps its isolated vertices, and its
    dense-id stage is freed like every oid-keyed build's."""
    from graphscope_spark import load_csv_graph

    ef, vf = tmp_path / "e.csv", tmp_path / "v.csv"
    ef.write_text("src,dst\na,b\nb,c\n")
    vf.write_text("id\na\nb\nc\nz\n")
    before = _persistent_count(spark)
    g = load_csv_graph(spark, str(ef), vfile=str(vf))
    assert (g.num_vertices, g.num_edges) == (4, 2)
    g.unpersist_all()
    after = _persistent_count(spark)
    assert after <= before, f"build left {after - before} persistent RDD(s)"


def test_zero_step_run_result_is_freeable(spark):
    """A run of zero supersteps (an empty sweep, or a resume from a
    converged checkpoint) returns a ``truncate`` result like any other
    run: ``free_truncated`` on it leaves no persistent RDD behind."""
    from pyspark.sql import functions as F

    from graphscope_spark.runtime.superstep import (FixpointJob,
                                                    SuperstepRunner,
                                                    free_truncated)

    init = spark.range(10).select(F.col("id").alias("vid"),
                                  F.lit(True).alias("chg"))
    before = _persistent_count(spark)
    state, _ = SuperstepRunner(spark).run(
        FixpointJob("noop", init, lambda st, s: st), max_steps=0)
    assert state.count() == 10
    free_truncated(state)
    after = _persistent_count(spark)
    assert after <= before, f"zero-step run leaked {after - before} RDD(s)"


def test_betweenness_from_a_source_without_out_edges(spark):
    """A source with no out-edges reaches nothing (BFS depth 0): both
    betweenness flavors are all zeros and the loops leave no blocks."""
    import graphscope_spark as gs

    g = LinkGraph(spark, spark.createDataFrame([(0, 1), (1, 2)],
                                               "src LONG, dst LONG"))
    before = _persistent_count(spark)
    vb = {r["vid"]: r["betweenness"] for r in gs.betweenness_centrality(
        g, sources=[2], normalized=False).collect()}
    eb = {(r["src"], r["dst"]): r["betweenness"]
          for r in gs.edge_betweenness_centrality(
              g, sources=[2], normalized=False).collect()}
    assert vb == {0: 0.0, 1: 0.0, 2: 0.0}
    assert eb == {(0, 1): 0.0, (1, 2): 0.0}
    leaked = _persistent_count(spark) - before
    assert leaked <= 6, f"betweenness leaked {leaked} persistent RDDs"
    g.unpersist_all()
