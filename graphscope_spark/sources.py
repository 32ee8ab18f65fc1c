"""Graph sources — CSV/parquet loaders with the reference's URI options.

Reference: GraphScope's loader URIs attach options to the path with
``#`` fragments and ``&`` separators, e.g.
``/path/e_0_0_0.csv#header_row=True#src_label=v0&dst_label=v0&label=e0``
(/root/reference/analytical_engine/test/app_tests.sh:182-196; option
parsing in python/graphscope/framework/loader.py). ``load_csv_graph``
accepts the same convention so a reference user's load scripts port
directly, and maps it onto ``spark.read.csv`` — header/delimiter reach
the scan (no post-hoc parsing), column pruning + predicate pushdown come
free from the DataFrame source.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from graphscope_spark.graph import LinkGraph


def _parse_uri(uri: str) -> tuple[str, dict]:
    """``path#k=v#k=v&k=v`` → (path, {k: v}) — fragments after the first
    ``#`` hold options; ``&`` separates options within a fragment."""
    parts = uri.split("#")
    path, opts = parts[0], {}
    for frag in parts[1:]:
        for kv in frag.split("&"):
            if not kv:
                continue
            k, _, v = kv.partition("=")
            opts[k.strip()] = v.strip()
    return path, opts


def _read_csv(spark: SparkSession, uri: str) -> DataFrame:
    path, opts = _parse_uri(uri)
    header = opts.get("header_row", "True").lower() in ("true", "1", "yes")
    delim = opts.get("delimiter", ",")
    return (
        spark.read.option("header", header)
        .option("delimiter", delim)
        .option("inferSchema", "true")
        .csv(path)
    )


def load_csv_graph(
    spark: SparkSession,
    efile: str,
    vfile: str | None = None,
    src_col: str | int = 0,
    dst_col: str | int = 1,
    oid_col: str | int = 0,
    directed: bool = True,
    num_partitions: int | None = None,
) -> LinkGraph:
    """Load a LinkGraph from edge (and optional vertex) CSV files using
    the reference's ``path#option=value`` URIs. Multiple edge files may
    be passed separated by ``;`` (the reference's multi-label syntax) —
    they are unioned into one edge set. Columns may be named or
    positional. Original ids of any type are densified via
    ``LinkGraph.from_oid_edges``."""
    frames = [_read_csv(spark, u) for u in efile.split(";") if u]
    def pick(df: DataFrame, c):  # name or position
        return F.col(df.columns[c] if isinstance(c, int) else c)
    edges = None
    for df in frames:
        e = df.select(pick(df, src_col).cast("string").alias("src_oid"),
                      pick(df, dst_col).cast("string").alias("dst_oid"))
        edges = e if edges is None else edges.unionByName(e)
    verts = None
    for df in (_read_csv(spark, u) for u in (vfile or "").split(";") if u):
        v = df.select(pick(df, oid_col).cast("string").alias("oid"))
        verts = v if verts is None else verts.unionByName(v)
    return LinkGraph.from_oid_edges(spark, edges, directed=directed,
                                    num_partitions=num_partitions,
                                    oid_vertices=verts)
