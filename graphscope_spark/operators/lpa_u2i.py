"""LPA-U2I — weighted multi-property label diffusion on a bipartite
user-item graph.

Reference: gs::LPAU2I
(/root/reference/analytical_engine/apps/lpa/lpa_u2i.h:28-250): u vertices
(label 0) carry `prop_num` double properties as a label vector; i
vertices start at 0. Alternating synchronous stages, step counter
starting at 2 after setup (`lpa_u2i.h:120-145`):
  even step (u2i):  i.lab[p] = Σ_{u→i} u.lab[p] · w(u,i)
  odd  step (i2u):  tmp[p]   = Σ_{u→i} i.lab[p] · w(u,i)
                    u.lab[p] = (tmp[p] − out_deg(u)·u.lab[p])
                               / (nbr_in_deg_sum(u) − out_deg(u))
    … unless u.lab[p] ∈ {0,1} (clamped seeds keep their value,
    lpa_u2i.h:219-222) or nbr_in_deg_sum(u) == out_deg(u)
    (lpa_u2i.h:224-230), where out_deg(u) = |out(u)| and
    nbr_in_deg_sum(u) = Σ_{i∈out(u)} in_deg(i).
Runs while step ≤ max_round; the result is the u-side label vector.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from graphscope_spark.runtime.superstep import Truncator, free_truncated, truncate


def lpa_u2i(spark: SparkSession, u: DataFrame, edges: DataFrame,
            prop_cols: list[str], max_round: int = 10,
            src_col: str = "src", dst_col: str = "dst",
            weight_col: str = "weight") -> DataFrame:
    """u: (vid, prop...) seed labels; edges: (src=u, dst=i, weight).
    Returns (vid, prop...) — diffused u labels."""
    P = len(prop_cols)
    e = edges.select(F.col(src_col).alias("u"), F.col(dst_col).alias("i"),
                     F.col(weight_col).cast("double").alias("w")) \
        .persist(StorageLevel.MEMORY_AND_DISK)
    trunc = Truncator()
    ulab = trunc(u.select(F.col("vid").alias("u"),
                      *[F.col(c).cast("double").alias(f"p{k}")
                        for k, c in enumerate(prop_cols)]), "ulab")
    # degrees (constant): out_deg(u), in_deg(i), nbr_in_deg_sum(u)
    out_deg = e.groupBy("u").agg(F.count("*").alias("od"))
    in_deg = e.groupBy("i").agg(F.count("*").alias("idg"))
    nbr_sum = (e.join(in_deg, "i").groupBy("u")
               .agg(F.sum("idg").alias("nsum")))
    consts = truncate(out_deg.join(nbr_sum, "u"))

    ilab = None
    for step in range(2, max_round + 1):
        if step % 2 == 0:  # u2i
            ilab = trunc(
                e.join(ulab, "u")
                .groupBy("i")
                .agg(*[F.sum(F.col(f"p{k}") * F.col("w")).alias(f"p{k}")
                       for k in range(P)]),
                "ilab",
            )
        else:  # i2u
            tmp = (
                e.join(ilab, "i")
                .groupBy("u")
                .agg(*[F.sum(F.col(f"p{k}") * F.col("w")).alias(f"t{k}")
                       for k in range(P)])
            )
            upd = ulab.join(tmp, "u", "left").join(consts, "u", "left")
            new_cols = []
            for k in range(P):
                p = F.col(f"p{k}")
                t = F.coalesce(F.col(f"t{k}"), F.lit(0.0))
                clamped = (p == 0.0) | (p == 1.0)
                denom_zero = F.col("nsum").isNull() | (F.col("nsum") == F.col("od"))
                new_cols.append(
                    F.when(clamped | denom_zero, p)
                    .otherwise((t - F.col("od") * p)
                               / (F.col("nsum") - F.col("od")))
                    .alias(f"p{k}")
                )
            ulab = trunc(upd.select("u", *new_cols), "ulab")
    e.unpersist()
    trunc.free("ilab")
    free_truncated(consts)
    return ulab.select(F.col("u").alias("vid"),
                       *[F.col(f"p{k}").alias(c) for k, c in enumerate(prop_cols)])
