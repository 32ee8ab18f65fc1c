"""Deduplication: exact, n-gram Jaccard, MinHash+LSH, SimHash.

Scale design: every variant is candidate-generation-by-key + verify —
no all-pairs comparison ever materializes. At 100 TB the bucket keys
(hash / band / simhash-block) are the shuffle keys; bucket skew (a
boilerplate shingle shared by millions of docs) is handled by capping
candidate fan-out per bucket (``max_bucket`` — buckets larger than the
cap are dropped exactly like stop-shingles in production dedup
pipelines).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _hash60(col, hash_fn: str = "xxhash64") -> Column:
    """Non-negative 60-bit hash of a string column.

    ``xxhash64`` (default): fastest, JVM-native — the 100 TB path.
    ``sha2``: first 15 hex chars of sha256 parsed base-16 — ~40× slower
    but reproducible in ANY engine (DuckDB value oracles recompute it
    exactly), so the full LSH pipeline is cross-checkable end to end.
    """
    if hash_fn == "xxhash64":
        # clear the sign bit so both modes are non-negative
        return F.xxhash64(col).bitwiseAND(F.lit((1 << 60) - 1))
    if hash_fn == "sha2":
        return F.conv(F.substring(F.sha2(col, 256), 1, 15), 16, 10).cast("long")
    raise ValueError(f"unknown hash_fn {hash_fn!r}")


def exact_dedup(df: DataFrame, key_col: str = "text",
                id_col: str = "doc_id") -> DataFrame:
    """Keep the min-id representative per exact content.

    Two-phase so the wide content column never enters a groupBy key:
    phase 1 groups on xxhash64(content) carrying only ids (narrow
    shuffle); hashes seen once elect their doc directly. Phase 2 resolves
    only colliding hashes (count > 1 — duplicates or the vanishingly rare
    64-bit collision) by re-grouping JUST those docs on the content
    itself. The final semi-join keeps winner rows from the original table
    without ever aggregating content.
    """
    ids = df.select(F.col(id_col).alias("_id"), F.xxhash64(key_col).alias("_h"))
    per_hash = ids.groupBy("_h").agg(
        F.min("_id").alias("_rep"), F.count("*").alias("_cnt"))
    singles = per_hash.filter(F.col("_cnt") == 1).select(F.col("_rep").alias("_id"))
    multi_h = per_hash.filter(F.col("_cnt") > 1).select("_h")
    multi = (
        df.select(F.col(id_col).alias("_id"), F.xxhash64(key_col).alias("_h"),
                  F.col(key_col))
        .join(multi_h, "_h", "left_semi")
        .groupBy("_h", key_col).agg(F.min("_id").alias("_id"))
        .select("_id")
    )
    winners = singles.unionByName(multi).withColumnRenamed("_id", id_col)
    return df.join(winners, id_col, "left_semi").select(id_col, key_col)


def _shingles(col, n: int = 3):
    """Token n-gram shingles → array<string>."""
    toks = F.filter(F.split(col, r"\s+"), lambda t: t != "")
    idx = F.sequence(F.lit(0), F.greatest(F.size(toks) - n, F.lit(0)))
    return F.when(
        F.size(toks) >= n,
        F.array_distinct(
            F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)))
        ),
    ).otherwise(F.array(F.concat_ws(" ", toks)))


def _exact_grams(col, length: int):
    """Token ``length``-gram shingles, NO whole-text fallback — docs with
    fewer than ``length`` tokens yield an empty array (they cannot
    contain a ``length``-token phrase)."""
    toks = F.filter(F.split(col, r"\s+"), lambda t: t != "")
    idx = F.sequence(F.lit(0), F.size(toks) - length)
    return F.when(
        F.size(toks) >= length,
        F.array_distinct(
            F.transform(idx,
                        lambda i: F.concat_ws(" ", F.slice(toks, i + 1, length)))
        ),
    ).otherwise(F.array().cast("array<string>"))


def ngram_jaccard_pairs(df: DataFrame, text_col: str = "text",
                        id_col: str = "doc_id", n: int = 3,
                        threshold: float = 0.5,
                        max_bucket: int = 1000) -> DataFrame:
    """Near-duplicate pairs by exact token-n-gram Jaccard ≥ threshold.

    Candidates = pairs sharing ≥1 shingle (inverted-index self-join on the
    shingle key); Jaccard from shared-count + per-doc distinct-shingle
    counts — the |A∪B| = |A|+|B|−|A∩B| identity, so no per-pair set ops.
    Returns (id_a, id_b, jaccard) with id_a < id_b.
    """
    sh = (
        df.select(F.col(id_col).alias("id"), _shingles(F.col(text_col), n).alias("sh"))
        .withColumn("size", F.size("sh"))
    )
    inv = sh.select("id", "size", F.explode("sh").alias("s"))
    # stop-shingle cap: drop buckets larger than max_bucket (hub mitigation)
    bucket_sizes = inv.groupBy("s").agg(F.count("*").alias("bc"))
    inv = inv.join(
        bucket_sizes.filter(F.col("bc") <= max_bucket).select("s"), "s", "left_semi"
    )
    a = inv.select(F.col("s"), F.col("id").alias("id_a"), F.col("size").alias("size_a"))
    b = inv.select(F.col("s"), F.col("id").alias("id_b"), F.col("size").alias("size_b"))
    shared = (
        a.join(b, "s")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b", "size_a", "size_b")
        .agg(F.count("*").alias("inter"))
    )
    return (
        shared.select(
            "id_a", "id_b",
            (F.col("inter") / (F.col("size_a") + F.col("size_b") - F.col("inter")))
            .alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def decontaminate(corpus: DataFrame, benchmark: DataFrame,
                  text_col: str = "text", id_col: str = "doc_id",
                  bench_id_col: str | None = None, n: int = 3,
                  threshold: float = 0.8, max_bucket: int = 10_000,
                  broadcast_benchmark: bool = True) -> DataFrame:
    """Benchmark-contamination pairs → (doc_id, bench_id, containment).

    The decontamination pass an LLM training pipeline runs before
    training: flag corpus documents whose text CONTAINS a benchmark/eval
    document's n-grams. Uses asymmetric containment |A ∩ B| / |B|
    (B = the benchmark doc's distinct n-grams) rather than Jaccard — an
    eval prompt quoted inside a 10k-token web page has near-zero Jaccard
    but containment 1.0, and it is containment that leaks the benchmark.

    Scale shape mirrors ``ngram_jaccard_pairs``: inverted-index hash
    join on the shingle key (narrow), shared-shingle count per
    (doc, bench) pair, divided by the benchmark doc's distinct-shingle
    count — no per-pair set materialization. The benchmark side is
    normally tiny (eval suites), so it broadcasts by default; the
    stop-shingle cap bounds hub n-grams on the corpus side.
    """
    bcol = bench_id_col or id_col
    # benchmark docs SHORTER than n tokens fall back to one whole-text
    # shingle (length = their token count) — the corpus side must emit
    # grams of exactly those lengths too, or short eval items could
    # never match any corpus n-gram and would silently pass
    # decontamination. The extra lengths are collected from the (tiny)
    # benchmark side; normally the set is empty and the corpus plan is
    # untouched.
    _btoks = F.filter(F.split(F.col(text_col), r"\s+"), lambda t: t != "")
    short_lengths = sorted({
        int(r["ln"]) for r in benchmark
        .select(F.size(_btoks).alias("ln"))
        .filter((F.col("ln") > 0) & (F.col("ln") < n)).distinct().collect()
    })
    corpus_sh = _shingles(F.col(text_col), n)
    for ln in short_lengths:
        corpus_sh = F.array_union(corpus_sh, _exact_grams(F.col(text_col), ln))
    c = (corpus
         .select(F.col(id_col).alias("doc_id"), corpus_sh.alias("sh"))
         .select("doc_id", F.explode("sh").alias("s")))
    bucket_sizes = c.groupBy("s").agg(F.count("*").alias("bc"))
    c = c.join(bucket_sizes.filter(F.col("bc") <= max_bucket).select("s"),
               "s", "left_semi")
    b = (benchmark
         .select(F.col(bcol).alias("bench_id"),
                 _shingles(F.col(text_col), n).alias("sh"))
         .withColumn("bsize", F.size("sh"))
         .select("bench_id", "bsize", F.explode("sh").alias("s")))
    if broadcast_benchmark:
        b = F.broadcast(b)
    shared = (c.join(b, "s")
              .groupBy("doc_id", "bench_id", "bsize")
              .agg(F.count(F.lit(1)).alias("inter")))
    return (shared
            .select("doc_id", "bench_id",
                    (F.col("inter") / F.col("bsize")).alias("containment"))
            .filter(F.col("containment") >= threshold))


def dup_span_stats(df: DataFrame, text_col: str = "text",
                   id_col: str = "doc_id", k: int = 8,
                   hash_fn: str = "fast",
                   max_bucket: int | None = 100_000) -> DataFrame:
    """Exact-substring duplication, span-level (the signal behind
    suffix-array training-data dedup): per document, how many of its
    k-token window positions hold a window that also occurs in at least
    one OTHER document.

    Returns (doc_id, n_grams, dup_grams) — every input doc keeps a row
    (n_grams = 0 when shorter than k tokens). Cross-document only:
    within-doc repeats are ``repetition_stats``'s signal.

    Scale shape: candidate generation by window key, never pairs. The
    exchange carries (doc_id, 64-bit window hash, position count) —
    one row per DISTINCT window per doc, bounded by token count; the
    window text itself never shuffles (``hash_fn="raw"`` keeps the
    string key instead so an external SQL engine can replay the exact
    computation). Cross-doc support is one aggregate over the window
    key; hub windows (boilerplate shared by millions of docs) are
    dropped from numerator AND denominator once their doc-bucket
    exceeds ``max_bucket``, exactly like stop-shingles.

    ``hash_fn`` picks the window-key engine — all modes return
    identical stats (keys only need identity, not equality across
    modes): ``"fast"`` (the DEFAULT since round 5, verdict #7:
    Arrow/numpy rolling hash in one mapInPandas pass — the HOF path's
    per-window cost is interpreted-expression evaluation, a constant
    that no hash choice removes, so the vectorized pass is the 100 TB
    choice; 1M-doc/60M-token probe: 26.3s = 38k docs/s, 2.7× the r04
    baseline and 2.5× the JVM HOF path, after fixing the object-dtype
    id column that dominated the Arrow return path), ``"xxhash64"``
    (pure JVM expression path, no Python workers), ``"raw"``/``"sha2"``
    (string window keys, SQL-replayable oracle modes).
    """
    toks = F.filter(F.split(F.col(text_col), r"\s+"), lambda t: t != "")
    if hash_fn == "fast":
        per = _window_counts_arrow(df, text_col, id_col, k)
        return _dup_span_finish(df, per, id_col, max_bucket)
    if hash_fn in ("raw", "sha2"):
        # window STRINGS as the key ("raw", or sha2-hashed) —
        # SQL-replayable, but building n·k-char strings dominates at
        # scale; oracle/small-data mode
        grams = F.when(
            F.size(toks) >= k,
            F.transform(F.sequence(F.lit(0), F.size(toks) - k),
                        lambda i: F.concat_ws(" ", F.slice(toks, i + 1, k))),
        ).otherwise(F.array().cast("array<string>"))
    else:
        # scale path: hash the token-array slice directly (xxhash64
        # accepts arrays) — no per-window string build. Cost is bounded
        # by Spark's interpreted higher-order functions, not the hash:
        # poly-fold and string-concat variants measured equal-or-worse
        # at 53M windows (~1M windows/s/32 threads for all of them).
        grams = F.when(
            F.size(toks) >= k,
            F.transform(F.sequence(F.lit(0), F.size(toks) - k),
                        lambda i: F.xxhash64(F.slice(toks, i + 1, k))),
        ).otherwise(F.array().cast("array<long>"))
    pos = (df.select(F.col(id_col).alias("_id"), grams.alias("_gs"))
           .select("_id", F.explode("_gs").alias("_g")))
    key = (F.col("_g") if hash_fn != "sha2"
           else _hash60(F.col("_g"), "sha2"))
    per = (pos.select("_id", key.alias("_w"))
           .groupBy("_id", "_w").agg(F.count("*").alias("_c")))
    return _dup_span_finish(df, per, id_col, max_bucket)


def _dup_span_finish(df: DataFrame, per: DataFrame, id_col: str,
                     max_bucket: int | None) -> DataFrame:
    """Shared dup_span tail: (doc, window-key, positions) → per-doc stats.

    Cross-doc support via a window over the window-key partition: one
    scan, no self-join (the aggregate-then-join form re-reads the
    corpus for the support side — 2× scan cost at 100 TB).
    """
    marked = per.withColumn(
        "_nd", F.count(F.lit(1)).over(Window.partitionBy("_w")))
    if max_bucket is not None:
        marked = marked.filter(F.col("_nd") <= max_bucket)
    marked = (marked.groupBy("_id")
              .agg(F.sum("_c").alias("_tot"),
                   F.sum(F.when(F.col("_nd") >= 2, F.col("_c"))
                         .otherwise(F.lit(0))).alias("_dup")))
    return (df.select(F.col(id_col).alias("_id"))
            .join(marked, "_id", "left")
            .select(F.col("_id").alias(id_col),
                    F.coalesce("_tot", F.lit(0)).alias("n_grams"),
                    F.coalesce("_dup", F.lit(0)).alias("dup_grams")))


def _window_counts_arrow(df: DataFrame, text_col: str, id_col: str,
                         k: int) -> DataFrame:
    """(doc, 64-bit window key, position count) via one Arrow pass.

    The ``hash_fn="fast"`` engine: Spark's higher-order functions are
    interpreted (not whole-stage-codegen'd), so hashing every k-token
    slice with ``transform(sequence(...), i -> xxhash64(slice(...)))``
    is bounded by expression-tree evaluation, not by hashing (measured
    ~1M windows/s on 32 threads regardless of hash choice). This path
    moves the whole per-document computation into one vectorized
    ``mapInPandas`` stage: whitespace tokenize (pandas C splitter,
    same semantics as ``split(text, r'\\s+')`` + drop-empties), SipHash
    per token (``pd.util.hash_array``, fixed key → deterministic across
    workers/runs), rolling k-window polynomial fold (odd 64-bit base →
    per-token mix is a bijection mod 2^64), then a batch-local
    lexsort to emit ONE row per distinct (doc, window) with its count —
    the same narrow exchange shape the HOF path feeds the support
    aggregate. Key VALUES differ from xxhash64 mode; key IDENTITY
    (equal windows ↔ equal keys, up to 2^-64 collisions) is the only
    contract, so the returned stats match the other modes exactly.
    Embarrassingly parallel: no shuffle until the support aggregate.
    """
    import numpy as np

    base = np.uint64(0x9E3779B97F4A7C15)
    pow_vec = np.power(base, np.arange(k, dtype=np.uint64)[::-1])
    # output schema follows the caller's id type (the other modes all
    # preserve it — string doc ids must work here too)
    id_type = df.schema[id_col].dataType.simpleString()
    empty = {"_id": np.array([], dtype=object),
             "_w": np.array([], dtype=np.int64),
             "_c": np.array([], dtype=np.int64)}

    def _starts(nw: "np.ndarray") -> "np.ndarray":
        # window-start offsets within each doc, concatenated:
        # [0..nw0-1, 0..nw1-1, ...] without a Python loop
        out = np.ones(int(nw.sum()), dtype=np.int64)
        out[0] = 0
        out[np.cumsum(nw)[:-1]] = -(nw[:-1] - 1)
        return np.cumsum(out)

    def _roll(batches):
        import pandas as pd

        # Java's \s is ASCII-only; pandas .str.split() (no pattern)
        # splits on Unicode whitespace — tokenize with the exact ASCII
        # class so all hash_fn modes see identical windows
        ws = " \t\n\x0b\f\r"
        ws_re = "[" + ws + "]+"
        for pdf in batches:
            if len(pdf) == 0:
                yield pd.DataFrame(empty)
                continue
            stripped = pdf["_t"].str.strip(ws)
            toks = stripped.str.split(ws_re, regex=True)
            lens = toks.str.len().fillna(0).astype(np.int64).to_numpy()
            # an all-whitespace/empty text splits to [''] — zero tokens
            lens[stripped.fillna("").eq("").to_numpy()] = 0
            keep = lens >= k
            if not keep.any():
                yield pd.DataFrame(empty)
                continue
            ls = lens[keep]
            flat = np.concatenate(
                [np.asarray(t, dtype=object) for t in toks[keep]])
            hs = pd.util.hash_array(flat)          # uint64, deterministic
            nw = ls - k + 1
            # all k-windows of the concatenated stream; valid starts only
            # (cross-doc windows are sliced away by the start index)
            win = np.lib.stride_tricks.sliding_window_view(hs, k)
            keys = win @ pow_vec                   # uint64 wraparound fold
            starts = np.repeat(np.cumsum(ls) - ls, nw) + _starts(nw)
            wv = keys[starts]
            # lexsort cannot order object (string-id) arrays — sort on
            # factorized codes, emit the original values
            ids_kept = pdf["_id"][keep].to_numpy()
            codes, uniq = pd.factorize(ids_kept)
            dcodes = np.repeat(codes, nw)
            order = np.lexsort((wv, dcodes))
            dcodes, wv = dcodes[order], wv[order]
            first = np.empty(len(dcodes), dtype=bool)
            first[0] = True
            first[1:] = (dcodes[1:] != dcodes[:-1]) | (wv[1:] != wv[:-1])
            idx = np.flatnonzero(first)
            # keep the id column's NATIVE dtype: an object array of
            # boxed ints forces Arrow to walk Python objects for every
            # output row — measured as the dominant cost of the whole
            # pass at 33M (doc, window) rows (round-5 profiling); int64
            # ids must leave as int64
            yield pd.DataFrame({
                "_id": np.asarray(uniq)[dcodes[idx]],
                "_w": wv[idx].view(np.int64),
                "_c": np.diff(np.append(idx, len(dcodes))),
            })

    src = df.select(F.col(id_col).alias("_id"), F.col(text_col).alias("_t"))
    return src.mapInPandas(_roll, f"_id {id_type}, _w long, _c long")


MINHASH_P = 2_147_483_647


def minhash_coeffs(num_hashes: int) -> list[tuple[int, int]]:
    """The affine MinHash family (a_i, b_i) mod MINHASH_P — exported so
    oracles can regenerate identical signatures."""
    p = MINHASH_P
    return [((2 * i + 1) * 2_654_435_761 % p, (i * 40_503 + 17) % p)
            for i in range(num_hashes)]


def _minhash_sigs(df: DataFrame, text_col: str, id_col: str,
                  num_hashes: int, n: int, hash_fn: str = "xxhash64"):
    """(id, array<long> signature): sig[i] = min over shingles of
    (a_i·h(shingle) + b_i) mod p — the classic affine family, all
    JVM-side (explode → groupBy min per hash index)."""
    p = MINHASH_P
    coeffs = minhash_coeffs(num_hashes)
    sh = df.select(F.col(id_col).alias("id"), F.explode(_shingles(F.col(text_col), n)).alias("s"))
    sh = sh.select("id", F.pmod(_hash60(F.col("s"), hash_fn), F.lit(p)).alias("h"))
    sigs = sh.groupBy("id").agg(
        *[F.min(F.pmod(F.col("h") * a + b, F.lit(p))).alias(f"m{i}")
          for i, (a, b) in enumerate(coeffs)]
    )
    return sigs.select("id", F.array(*[f"m{i}" for i in range(num_hashes)]).alias("sig"))


def band_key(sig_cols, band: int) -> Column:
    """Deterministic bucket key for one LSH band: Horner fold of the
    band's signature values mod MINHASH_P (reproducible in SQL engines;
    rare key collisions only ADD candidates, which the exact-Jaccard
    verify then rejects)."""
    acc = F.lit(band).cast("long")
    for c in sig_cols:
        acc = F.pmod(acc * F.lit(1_000_003) + c, F.lit(MINHASH_P))
    return acc


def minhash_lsh_pairs(df: DataFrame, text_col: str = "text",
                      id_col: str = "doc_id", n: int = 3,
                      num_hashes: int = 32, bands: int = 8,
                      threshold: float = 0.5,
                      max_bucket: int = 1000,
                      hash_fn: str = "xxhash64") -> DataFrame:
    """MinHash + banded LSH near-dup candidates, verified by exact
    Jaccard: shingle → 32-perm signature → 8 bands of 4 → band-bucket
    self-join → exact-Jaccard filter ≥ threshold.

    Returns (id_a, id_b, jaccard). The verify step makes the output a
    deterministic SUBSET of ``ngram_jaccard_pairs`` (candidates LSH may
    miss are the recall tradeoff — measured in tests). Verify cost is
    O(|candidates|): each candidate pair joins to its two (distinct)
    shingle arrays and Jaccard comes from ``array_intersect`` — the exact
    inverted-index self-join is never run, so LSH's candidate pruning is
    the actual work saved at scale.
    """
    rows = num_hashes // bands
    sigs = _minhash_sigs(df, text_col, id_col, num_hashes, n, hash_fn)
    band_cols = [
        F.struct(F.lit(b).alias("band"),
                 band_key([F.col("sig")[b * rows + r] for r in range(rows)], b)
                 .alias("key"))
        for b in range(bands)
    ]
    buckets = sigs.select("id", F.explode(F.array(*band_cols)).alias("bk")) \
        .select("id", "bk.band", "bk.key")
    sizes = buckets.groupBy("band", "key").agg(F.count("*").alias("bc"))
    buckets = buckets.join(
        sizes.filter(F.col("bc") <= max_bucket).select("band", "key"),
        ["band", "key"], "left_semi")
    a = buckets.select("band", "key", F.col("id").alias("id_a"))
    b = buckets.select("band", "key", F.col("id").alias("id_b"))
    cand = (
        a.join(b, ["band", "key"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b").distinct()
    )
    sh = df.select(F.col(id_col).alias("id"),
                   _shingles(F.col(text_col), n).alias("sh"))
    verified = (
        cand.join(sh.select(F.col("id").alias("id_a"), F.col("sh").alias("sh_a")),
                  "id_a")
        .join(sh.select(F.col("id").alias("id_b"), F.col("sh").alias("sh_b")),
              "id_b")
        .select("id_a", "id_b",
                F.size(F.array_intersect("sh_a", "sh_b")).alias("inter"),
                F.size("sh_a").alias("size_a"), F.size("sh_b").alias("size_b"))
        .select("id_a", "id_b",
                (F.col("inter")
                 / (F.col("size_a") + F.col("size_b") - F.col("inter")))
                .alias("jaccard"))
    )
    return verified.filter(F.col("jaccard") >= threshold)


def simhash(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
            bits: int = 64, hash_fn: str = "xxhash64") -> DataFrame:
    """(id, simhash): sign-sum of per-token hash bits. JVM-side:
    explode tokens → per-bit ±1 sums → reassemble the key.
    ``hash_fn="sha2"`` limits usable bits to 60 (see ``_hash60``)."""
    if hash_fn == "sha2" and bits > 60:
        raise ValueError("sha2 mode provides 60 hash bits")
    toks = df.select(
        F.col(id_col).alias("id"),
        F.explode(F.filter(F.split(F.col(text_col), r"\s+"), lambda t: t != "")).alias("t"),
    ).select("id", (F.xxhash64("t") if hash_fn == "xxhash64"
                    else _hash60(F.col("t"), hash_fn)).alias("h"))
    bit_sums = toks.groupBy("id").agg(
        *[F.sum(F.when(F.shiftright("h", i).bitwiseAND(F.lit(1)) != 0, 1)
                .otherwise(-1)).alias(f"b{i}")
          for i in range(bits)]
    )
    key = F.lit(0).cast("long")
    for i in range(bits):
        # bit 63 is the sign bit: 1<<63 overflows LongType (ANSI), use the
        # negative literal; bitwiseOR assembles without overflow
        bit_lit = F.lit(-(2 ** 63) if i == 63 else (1 << i)).cast("long")
        key = key.bitwiseOR(
            F.when(F.col(f"b{i}") > 0, bit_lit).otherwise(F.lit(0).cast("long")))
    return bit_sums.select("id", key.alias("simhash"))


def simhash_pairs(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
                  max_hamming: int = 3, bits: int = 64,
                  hash_fn: str = "xxhash64") -> DataFrame:
    """Near-dup pairs with simhash Hamming distance ≤ max_hamming.
    Candidate generation: split the ``bits``-bit key into (max_hamming+1)
    equal blocks — any pair within distance ≤ max_hamming shares at
    least one exact block (pigeonhole) → block-bucket join, then exact
    Hamming verify via bit_count(xor)."""
    s = simhash(df, text_col, id_col, bits=bits, hash_fn=hash_fn)
    nblocks = max_hamming + 1
    width = bits // nblocks
    if width < 1:
        raise ValueError(
            f"max_hamming={max_hamming} needs more blocks than bits={bits}")

    def _block_key(i):
        # width == 64 (max_hamming=0, exact-match bucketing): the mask
        # literal (1<<64)-1 would overflow LongType — the full key IS the
        # block, no mask needed
        key = F.shiftright("simhash", i * width)
        if width < 64:
            key = key.bitwiseAND(F.lit((1 << width) - 1))
        return F.struct(F.lit(i).alias("blk"), key.alias("key"))

    blocks = s.select(
        "id", "simhash",
        F.explode(F.array(*[_block_key(i) for i in range(nblocks)])).alias("bk"),
    ).select("id", "simhash", "bk.blk", "bk.key")
    a = blocks.select("blk", "key", F.col("id").alias("id_a"), F.col("simhash").alias("sh_a"))
    b = blocks.select("blk", "key", F.col("id").alias("id_b"), F.col("simhash").alias("sh_b"))
    return (
        a.join(b, ["blk", "key"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b",
                F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b"))).alias("hamming"))
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )


def dedup_keep_list(df: DataFrame, pairs: DataFrame,
                    id_col: str = "doc_id") -> DataFrame:
    """Canonical keep-list from near-duplicate pairs: (id, cluster, keep).

    Real corpus dedup needs the TRANSITIVE closure of the pairwise
    near-dup relation (A~B, B~C must collapse to one cluster even when
    A~C was never emitted), then one canonical representative per
    cluster. The closure is HashMin connected components over the pair
    graph, run directly on the caller's id type (numeric OR string —
    the pair families all preserve the input id type, so casting here
    to long would fail under ANSI for 'doc-0042'-style ids and silently
    null them otherwise); min-id labels make the canonical doc the
    smallest id, deterministic. Documents in no pair keep themselves.
    Pair graphs are tiny relative to the corpus (only near-dups
    appear), so the iterative stage runs on a vanishing fraction of the
    100 TB input; the labeling join back onto ``df`` is one
    broadcast-or-shuffle hash join.
    """
    from graphscope_spark.runtime.superstep import Truncator, truncate

    e = pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
    t = Truncator()
    try:
        sym = t(e.union(e.select(F.col("dst").alias("src"),
                                 F.col("src").alias("dst"))).distinct(),
                "edges")
        lab = t(sym.select(F.col("src").alias("vid"))
                .union(sym.select(F.col("dst").alias("vid"))).distinct()
                .select("vid", F.col("vid").alias("comp")), "lab")
        while True:
            msgs = (sym.join(lab.select(F.col("vid").alias("src"),
                                        F.col("comp").alias("c")), "src")
                    .groupBy(F.col("dst").alias("vid"))
                    .agg(F.min("c").alias("mc")))
            nl = t(lab.join(msgs, "vid", "left")
                   .select("vid",
                           F.least("comp", F.coalesce("mc", "comp"))
                           .alias("comp"),
                           F.coalesce(F.col("mc") < F.col("comp"),
                                      F.lit(False)).alias("chg")), "lab")
            changed = nl.agg(F.sum(F.col("chg").cast("long"))).first()[0] or 0
            lab = nl.drop("chg")
            if changed == 0:
                break
        # final labels referenced by the returned plan: truncate a copy
        # OUT of the Truncator so close() can free the loop checkpoints
        comp = truncate(lab).select(F.col("vid").alias(id_col),
                                    F.col("comp").alias("_cluster"))
    finally:
        t.close()
    return (df.select(id_col).join(comp, id_col, "left")
            .select(id_col,
                    F.coalesce("_cluster", F.col(id_col)).alias("cluster"))
            .withColumn("keep", F.col("cluster") == F.col(id_col)))
