"""Streaming near-dup filtering — incremental MinHash-LSH over micro-batches.

The batch near-dup family (functions/dedup.py) answers "which pairs in
this corpus are near-dups"; a 100 TB ingest pipeline instead asks "is this
NEW document a near-dup of anything already admitted" — a streaming
membership filter. This sink maintains the canonical LSH index shape for
that question: one representative (doc id + full MinHash signature) per
occupied band bucket, in a parquet state the next micro-batch joins
against. State is O(admitted docs × bands) rows of constant width — the
document text never enters state, only 64-bit band keys and the
``num_hashes``-long signature.

Per micro-batch (all JVM-side, the same `_minhash_sigs`/`band_key`
machinery as the batch path):
  1. signatures + band-bucket keys for the batch docs;
  2. cross-batch: a doc is dropped if any of its buckets holds a state
     representative whose signature agrees on ≥ ``sim_threshold`` of the
     minhashes (the unbiased Jaccard estimate);
  3. intra-batch: EXACT greedy-by-id admission over the verified
     candidate-pair graph — a doc is dropped iff it is near a smaller
     doc that was itself ADMITTED (comparing only against the bucket's
     min id missed chains: d2~d3 both admitted when neither resembled
     the bucket minimum d1). The pair graph holds near-dup candidates
     only, and the greedy order resolves in a per-batch fixpoint loop
     whose round count is the similarity-chain depth (1-2 in practice);
  4. survivors' still-unowned buckets gain their min-id survivor as the
     new representative; state grows append-only, first-owner-wins.

Deterministic: signatures are pure functions of the text, admission is
greedy by doc id — replaying the same batches yields the same kept set
(a replayed doc never matches its own state rep: ``rep_id != id``).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from graphscope_spark.functions.dedup import _minhash_sigs, band_key
from graphscope_spark.runtime.superstep import (FixpointJob, SuperstepRunner,
                                                free_truncated, truncate)


def _fs_exists(spark: SparkSession, path: str) -> bool:
    """Existence probe through the Hadoop FileSystem API, so state dirs
    on object stores / HDFS work — ``os.path.exists`` is silently False
    for any non-local scheme, which would read the state as empty and
    disable cross-batch dedup exactly where it matters."""
    jvm = spark._jvm
    p = jvm.org.apache.hadoop.fs.Path(path)
    fs = p.getFileSystem(spark._jsc.hadoopConfiguration())
    return bool(fs.exists(p))


def _sig_agree_frac(a: str, b: str, num_hashes: int):
    """Fraction of positions where two signature arrays agree."""
    return F.expr(
        f"aggregate(zip_with({a}, {b}, (x, y) -> IF(x = y, 1L, 0L)), "
        f"0L, (acc, e) -> acc + e) / {num_hashes}")


class IncrementalMinHashDedup:
    """foreachBatch sink: admit only docs that are not near-dups of any
    previously admitted doc; resumable from ``state_dir``."""

    def __init__(self, spark: SparkSession, state_dir: str,
                 text_col: str = "text", id_col: str = "doc_id",
                 num_hashes: int = 32, bands: int = 8, n: int = 3,
                 sim_threshold: float = 0.8, hash_fn: str = "xxhash64",
                 max_bucket: int = 100_000):
        assert num_hashes % bands == 0
        # max_bucket: intra-batch buckets larger than this are skipped in
        # the pairwise verify (degenerate-quantization guard — the same
        # contract as the batch family's minhash_lsh_pairs cap)
        self.max_bucket = max_bucket
        self.spark = spark
        self.state_dir = state_dir
        self.text_col = text_col
        self.id_col = id_col
        self.num_hashes = num_hashes
        self.bands = bands
        self.n = n
        self.sim_threshold = sim_threshold
        self.hash_fn = hash_fn
        self._live = os.path.join(state_dir, "buckets")
        self._kept = os.path.join(state_dir, "kept")

    # ---- state io ---------------------------------------------------------

    def buckets(self) -> DataFrame:
        if _fs_exists(self.spark, self._live):
            return self.spark.read.parquet(self._live)
        return self.spark.createDataFrame(
            [], "band LONG, key LONG, rep_id LONG, rep_sig ARRAY<LONG>")

    def kept(self) -> DataFrame:
        """(doc_id) admitted so far, across all processed batches.

        distinct: a foreachBatch REPLAY (crash between the kept append
        and the buckets append) re-appends the identical kept rows —
        the recompute is deterministic, so the only artifact is exact
        duplicate doc_ids in storage, collapsed here so consumers never
        see them. The buckets state needs no such guard (its append is
        idempotent by construction: left_anti vs state + rep_id != id)."""
        if _fs_exists(self.spark, self._kept):
            return self.spark.read.parquet(self._kept) \
                .select("doc_id").distinct()
        return self.spark.createDataFrame([], "doc_id LONG")


    # ---- the filter -------------------------------------------------------

    def _band_buckets(self, sigs: DataFrame) -> DataFrame:
        rows = self.num_hashes // self.bands
        cols = [
            F.struct(
                F.lit(b).cast("long").alias("band"),
                band_key([F.col("sig")[b * rows + r] for r in range(rows)], b)
                .alias("key"))
            for b in range(self.bands)
        ]
        return sigs.select("id", "sig", F.explode(F.array(*cols)).alias("bk")) \
            .select("id", "sig", "bk.band", "bk.key")

    def process_batch(self, batch: DataFrame, batch_id: int | None = None):
        docs = batch.select(F.col(self.id_col).cast("long").alias("id"),
                            F.col(self.text_col).alias("text"))
        if docs.isEmpty():
            return
        sigs = _minhash_sigs(docs, "text", "id", self.num_hashes, self.n,
                             self.hash_fn)
        bkts = self._band_buckets(sigs).persist()
        state = self.buckets()

        # (2) cross-batch: any bucket's state rep close enough -> drop.
        # rep_id != id makes a foreachBatch RETRY idempotent: if the
        # previous attempt already appended this doc's buckets, the doc
        # must not collide with its own representative row
        hit_state = (
            bkts.join(state.hint("shuffle_hash"), ["band", "key"])
            .filter(F.col("rep_id") != F.col("id"))
            .filter(_sig_agree_frac("sig", "rep_sig", self.num_hashes)
                    >= self.sim_threshold)
            .select("id").distinct()
        )
        # (3) intra-batch: EXACT greedy-by-id admission. First the
        # verified candidate-pair graph (a < b, signature agreement >=
        # threshold, hub buckets capped), then a fixpoint loop that
        # decides each doc once all its smaller candidate neighbors are
        # decided: admit iff no smaller ADMITTED neighbor and not
        # dropped by the state in (2). Rounds = similarity-chain depth.
        sizes = (bkts.groupBy("band", "key")
                 .agg(F.count(F.lit(1)).alias("_n"))
                 .filter(F.col("_n") <= self.max_bucket)
                 .select("band", "key"))
        small = bkts.join(sizes, ["band", "key"])
        pairs = (
            small.select("band", "key", F.col("id").alias("a"),
                         F.col("sig").alias("sig_a"))
            .join(small.select("band", "key", F.col("id").alias("b"),
                               F.col("sig").alias("sig_b")),
                  ["band", "key"])
            .filter(F.col("a") < F.col("b"))
            .select("a", "b", "sig_a", "sig_b").distinct()
            .filter(_sig_agree_frac("sig_a", "sig_b", self.num_hashes)
                    >= self.sim_threshold)
            .select("a", "b")
        )

        # decision state (id, admit, chg): admit is null while undecided (chg)
        def step(st: DataFrame, _s: int) -> DataFrame:
            und = st.filter(F.col("chg")).select("id")
            per_b = (
                pairs.join(und.select(F.col("id").alias("b")), "b")
                .join(st.select(F.col("id").alias("a"), "admit"), "a", "left")
                .groupBy(F.col("b").alias("id")).agg(
                    F.max(F.col("admit").cast("int")).alias("_any_admit"),
                    F.sum(F.col("admit").isNull().cast("int"))
                    .alias("_n_open")))
            ready = (und.join(per_b, "id", "left")
                     .filter(F.coalesce(F.col("_n_open"), F.lit(0)) == 0)
                     .select("id", (F.coalesce(F.col("_any_admit"), F.lit(0))
                                    == 0).alias("_ready")))
            admit = F.coalesce(F.col("admit"), F.col("_ready"))
            return st.join(ready, "id", "left").select(
                "id", admit.alias("admit"), admit.isNull().alias("chg"))

        init = docs.select("id").distinct() \
            .join(hit_state.withColumn("admit", F.lit(False)), "id", "left") \
            .withColumn("chg", F.col("admit").isNull())
        dec = None
        try:
            pairs = truncate(pairs)  # every step reads it
            dec, _ = SuperstepRunner(self.spark).run(
                FixpointJob("minhash_dedup_admit", init, step))
            kept = dec.filter(F.col("admit")).select("id")

            # (4) survivors claim their unowned buckets, min id wins
            new_bkts = (
                bkts.join(kept, "id", "left_semi")
                .join(state.select("band", "key"),
                      ["band", "key"], "left_anti")
                .groupBy("band", "key").agg(F.min("id").alias("rep_id"))
            )
            new_bkts = new_bkts.join(
                sigs.select(F.col("id").alias("rep_id"),
                            F.col("sig").alias("rep_sig")), "rep_id") \
                .select("band", "key", "rep_id", "rep_sig")

            # state is first-owner-wins append-only (reps never change),
            # so each batch appends only its delta — per-batch write
            # cost is O(new buckets), not O(total admitted), however
            # long the stream has run. kept first: its plan reads the
            # pre-append state. A foreachBatch replay re-appends
            # identical kept rows (see kept()'s distinct-on-read
            # guard). Both writes run before the finally frees the
            # fixpoint's blocks: kept's plan reads them.
            kept.select(F.col("id").alias("doc_id")) \
                .write.mode("append").parquet(self._kept)
            new_bkts.write.mode("append").parquet(self._live)
        finally:
            free_truncated(pairs)
            free_truncated(dec)
            bkts.unpersist()

    # ---- streaming entry --------------------------------------------------

    def attach(self, doc_stream: DataFrame, checkpoint_dir: str,
               trigger_available_now: bool = True):
        """writeStream with this sink; returns the StreamingQuery."""
        w = doc_stream.writeStream.foreachBatch(self.process_batch) \
            .option("checkpointLocation", checkpoint_dir)
        if trigger_available_now:
            w = w.trigger(availableNow=True)
        return w.start()
