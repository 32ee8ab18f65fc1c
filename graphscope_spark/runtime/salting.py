"""Salted two-stage aggregation for skewed (hub) keys.

The reference absorbs hub-vertex work with intra-worker threads
(ForEach over a thread pool, reference
analytical_engine/core/worker/default_worker.h:82); a shuffle-based engine
instead splits a hot reduce key across ``salt`` sub-keys, partially
aggregates, then finishes with a second (now-balanced) aggregation — the
same partial/final shape Catalyst already emits map-side, made explicit so
the *reduce* side of a hub key is also spread over ``salt`` partitions.

Commutative+associative merges only (sum/min/max/count — exactly the
reference's atomic_add / atomic_min merge set, benchmarks/apps/wcc/wcc.h:80,
apps/clustering/triangles.h:129-131).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def salted_agg(
    df: DataFrame,
    key: str,
    value: str,
    agg_fn,
    salt: int = 16,
    salt_source: str | None = None,
) -> DataFrame:
    """Two-stage ``agg_fn`` (e.g. F.sum / F.min) of ``value`` grouped by
    ``key``. The salt is a deterministic hash of ``salt_source`` (another
    column, e.g. the message's src vertex) so results are reproducible.

    Returns (key, value) with the same column names.
    """
    if salt <= 1:
        return df.groupBy(key).agg(agg_fn(value).alias(value))
    src = F.col(salt_source) if salt_source else F.monotonically_increasing_id()
    salted = df.withColumn("_salt", F.pmod(F.xxhash64(src), F.lit(salt)))
    partial = salted.groupBy(key, "_salt").agg(agg_fn(value).alias(value))
    return partial.groupBy(key).agg(agg_fn(value).alias(value))


def salted_sum(df: DataFrame, key: str, value: str, salt: int = 16,
               salt_source: str | None = None) -> DataFrame:
    return salted_agg(df, key, value, F.sum, salt=salt, salt_source=salt_source)


def salted_min(df: DataFrame, key: str, value: str, salt: int = 16,
               salt_source: str | None = None) -> DataFrame:
    return salted_agg(df, key, value, F.min, salt=salt, salt_source=salt_source)
