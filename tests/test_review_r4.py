"""Regression tests for the round-4 core/functions review findings:

- superstep checkpoint-block tracking must drop exactly the
  localCheckpoint RDDs (not Dataset caches) and leak none;
- sparse-mode broadcast is gated on observed message volume;
- from_oid_edges partitions to spark.sql.shuffle.partitions;
- MSBFS dedupes sources; closeness forwards its runner;
- asof_join NULL timestamp/key semantics;
- profile_columns micro-scaling saturation;
- hll_sketch NULL keys consistent across hash modes;
- dup_span_stats fast mode: string ids + ASCII-whitespace parity;
- simhash_pairs(max_hamming=0);
- decontaminate short benchmark docs;
- kmeans_centroids empty/NULL guards; hashed_logreg NULL text.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from graphscope_spark.graph import LinkGraph


def _lc_ids(spark):
    m = spark.sparkContext._jsc.getPersistentRDDs()
    return [int(k) for k in m.keySet().toArray()
            if m.get(int(k)).rdd().isLocallyCheckpointed()]


def test_runner_tracks_only_checkpoint_rdds(spark, small_graph):
    """After a multi-superstep run, at most ONE locally-checkpointed
    block set survives (the final state the caller holds) and the
    graph's shared caches are still cached."""
    from graphscope_spark.operators.wcc import wcc

    vertices, edges = small_graph
    g = LinkGraph(spark, spark.createDataFrame(edges, "src LONG, dst LONG"))
    before = set(_lc_ids(spark))
    out = wcc(g)
    out.count()
    new_lc = [i for i in _lc_ids(spark) if i not in before]
    assert len(new_lc) <= 1, f"leaked localCheckpoint RDDs: {new_lc}"
    # the shared edge cache must NOT have been unpersisted mid-run
    assert g.edges.storageLevel.useMemory or g.edges.storageLevel.useDisk
    g.unpersist_all()


def test_wcc_scalars_carry_message_volume(spark, tiny_graph):
    from graphscope_spark.operators.wcc import WCCJob
    from graphscope_spark.runtime.superstep import SuperstepRunner

    vertices, edges = tiny_graph
    g = LinkGraph(spark, spark.createDataFrame(edges, "src LONG, dst LONG"))
    runner = SuperstepRunner(spark)
    state, scalars = runner.run(WCCJob(g))
    assert "msgs" in scalars
    assert scalars["frontier"] == 0  # converged
    g.unpersist_all()


def test_from_oid_edges_uses_shuffle_partition_count(spark):
    e = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a")], "src_oid STRING, dst_oid STRING")
    before = spark.sparkContext._jsc.getPersistentRDDs().size()
    g = LinkGraph.from_oid_edges(spark, e)
    assert g.num_partitions == int(
        spark.conf.get("spark.sql.shuffle.partitions"))
    assert g.edges.rdd.getNumPartitions() == g.num_partitions
    g.und_degrees().count()
    # the checkpoints under the base tables are tracked and freed, and
    # nothing else of the build stays; one-sided because the
    # ContextCleaner may drop unrelated GC'd RDDs meanwhile
    assert g._aux_cached
    g.unpersist_all()
    for df in g._aux_cached:
        assert not (df.storageLevel.useMemory or df.storageLevel.useDisk)
    after = spark.sparkContext._jsc.getPersistentRDDs().size()
    assert after <= before, f"graph build left {after - before} RDD(s)"


def test_msbfs_duplicate_sources_and_closeness_runner(spark, tiny_graph):
    from graphscope_spark.operators.traversal import closeness_centrality
    from graphscope_spark.runtime.superstep import SuperstepRunner

    vertices, edges = tiny_graph
    g = LinkGraph(spark, spark.createDataFrame(edges, "src LONG, dst LONG"))
    runner = SuperstepRunner(spark)
    dup = closeness_centrality(g, sources=[0, 0, 2], runner=runner)
    ded = closeness_centrality(g, sources=[0, 2])
    assert sorted(map(tuple, dup.collect())) == sorted(map(tuple, ded.collect()))
    # the runner actually ran the msbfs loop (finding: it was ignored)
    assert runner.history, "closeness did not forward its runner to msbfs"
    g.unpersist_all()


def test_asof_join_null_ts_and_null_keys(spark):
    from graphscope_spark.functions.temporal import asof_join

    left = spark.createDataFrame(
        [("k", 100, 1), ("k", None, 2), (None, 100, 3)],
        "k STRING, ts LONG, lid INT",
    ).select("k", F.timestamp_micros(F.col("ts") * 1_000_000).alias("ts"), "lid")
    right = spark.createDataFrame(
        [("k", 50, 10.0), ("k", 150, 20.0), (None, 50, 99.0)],
        "k STRING, ts LONG, v DOUBLE",
    ).select("k", F.timestamp_micros(F.col("ts") * 1_000_000).alias("ts"), "v")

    for direction in ("backward", "forward"):
        out = {r["lid"]: r["v"]
               for r in asof_join(left, right, on="k", direction=direction).collect()}
        assert out[2] is None, f"NULL left ts fabricated a {direction} match"
        assert out[3] is None, f"NULL key matched the NULL 'group' ({direction})"
        assert out[1] == (10.0 if direction == "backward" else 20.0)


def test_profile_columns_saturates_instead_of_overflowing(spark):
    from graphscope_spark.functions.profile import profile_columns

    df = spark.createDataFrame([(1_700_000_000_000_000,), (1_800_000_000_000_000,)],
                               "t LONG")
    row = profile_columns(df).collect()[0]
    # saturated to the in-range sentinel, not a crash / wraparound
    assert row["min_micro"] == row["max_micro"]
    assert row["min_micro"] > int(9.2e18)
    assert row["n_rows"] == 2 and row["n_nulls"] == 0


def test_hll_sketch_null_keys_mode_parity(spark):
    from graphscope_spark.functions.sketch import hll_sketch

    df = spark.createDataFrame([("a",), (None,), ("b",), (None,)], "k STRING")
    for fn in ("xxhash64", "sha2"):
        sk = hll_sketch(df, "k", hash_fn=fn)
        regs = sk.collect()
        assert all(r["register"] is not None for r in regs), fn
        # exactly the 2 non-null keys contribute
        assert sum(1 for _ in regs) <= 2


def test_dup_span_fast_mode_string_ids_and_unicode_ws(spark):
    from graphscope_spark.functions.dedup import dup_span_stats

    text1 = "a b c d e f g h i j"
    text2 = "x y a b c d e f g h z"          # shares the 8-gram a..h
    text3 = "p\u00a0q r s t u v w x y"  # NBSP: one token under ASCII split
    df = spark.createDataFrame(
        [("doc-1", text1), ("doc-2", text2), ("doc-3", text3)],
        "doc_id STRING, text STRING")
    fast = {r["doc_id"]: (r["n_grams"], r["dup_grams"])
            for r in dup_span_stats(df, hash_fn="fast").collect()}
    jvm = {r["doc_id"]: (r["n_grams"], r["dup_grams"])
           for r in dup_span_stats(df, hash_fn="xxhash64").collect()}
    assert fast == jvm
    assert fast["doc-1"][1] > 0 and fast["doc-2"][1] > 0

    # long ids still work
    dfl = df.select(F.monotonically_increasing_id().alias("doc_id"), "text")
    out = dup_span_stats(dfl, hash_fn="fast").collect()
    assert len(out) == 3


def test_simhash_pairs_max_hamming_zero(spark):
    from graphscope_spark.functions.dedup import simhash_pairs

    df = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog"),
         (2, "the quick brown fox jumps over the lazy dog"),
         (3, "completely different text about graph engines and spark")],
        "doc_id LONG, text STRING")
    pairs = simhash_pairs(df, max_hamming=0).collect()
    assert [(r["id_a"], r["id_b"]) for r in pairs] == [(1, 2)]
    with pytest.raises(ValueError):
        simhash_pairs(df, max_hamming=64)


def test_decontaminate_short_benchmark_doc(spark):
    from graphscope_spark.functions.dedup import decontaminate

    corpus = spark.createDataFrame(
        [("c1", "lots of filler text then the answer Q17: 42 appears here "
                "surrounded by many more corpus tokens to dilute jaccard")],
        "doc_id STRING, text STRING")
    bench = spark.createDataFrame([("b1", "Q17: 42")], "doc_id STRING, text STRING")
    hits = decontaminate(corpus, bench, threshold=0.8).collect()
    assert [(r["doc_id"], r["bench_id"]) for r in hits] == [("c1", "b1")]
    assert hits[0]["containment"] == 1.0


def test_kmeans_guards_and_logreg_null_text(spark):
    from graphscope_spark.functions.similarity import kmeans_centroids
    from graphscope_spark.functions.text import hashed_logreg_score

    empty = spark.createDataFrame([], "vec_id LONG, embedding ARRAY<FLOAT>")
    with pytest.raises(ValueError):
        kmeans_centroids(empty, ncentroids=2)
    mixed = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, None), (3, [0.0, 1.0])],
        "vec_id LONG, embedding ARRAY<FLOAT>")
    cents = kmeans_centroids(mixed, ncentroids=2, iters=1)
    assert len(cents) == 2 and all(len(c) == 2 for c in cents)

    docs = spark.createDataFrame([(1, None), (2, "real text here")],
                                 "doc_id LONG, text STRING")
    out = {r["doc_id"]: r["n_feats"]
           for r in hashed_logreg_score(docs, weights=[0.1] * 64, bias=0.0).collect()}
    assert out[1] == 0 and out[2] > 0
