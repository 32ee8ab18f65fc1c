"""LinkGraph — the engine's distributed property-graph abstraction.

Reference mapping (SURVEY.md §1.5): GraphScope partitions a property graph
edge-cut by ``hash(oid) % fnum`` into per-worker fragments holding CSR
topology + Arrow property tables (reference:
analytical_engine/core/utils/partitioner.h:40-53,
docs/analytical_engine/performance_tuning.md:42-84). Here the fragment
becomes a DataFrame partition: the edge table is hash-repartitioned by
``src`` and sorted within partitions ("CSR blocks"), persisted so every
superstep's message join reuses the same exchange instead of re-shuffling
the (big) edge side. The oid→vid dense VertexMap
(performance_tuning.md:22-40) becomes a deterministic two-level dense-id
assignment (per-partition offsets + intra-partition row_number) — no global
single-partition window, so it scales to 10^12 vertices.

The base tables are materialized fragments with leaf plans, like the
reference's ``ArrowFragment``, which keeps nothing of how it was loaded:
the constructor cuts its input's lineage once (``truncate``) and caches
the repartitioned copy of that checkpoint. A cache over the loader's own
plan (a corpus pipeline: Python UDFs, resolve joins, the vertex map) made
every view, operator and superstep plan built on the graph carry that
plan too, and AQE renders the whole string on every plan update (its
``SparkListenerSQLAdaptiveExecutionUpdate`` explain runs even with the UI
off): a ``triangles`` query on a 20k-file import graph held a 26 MB plan
string (200 MB once AQE had re-planned it), seconds of driver time per
query stage.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from graphscope_spark.runtime.superstep import free_truncated, truncate


def assign_dense_ids(
    df: DataFrame, oid_col: str, num_partitions: int, vid_col: str = "vid",
    aux: list | None = None,
) -> DataFrame:
    """Deterministically assign dense ids 0..n-1 to distinct ``oid_col``.

    Scalable equivalent of the reference's GlobalVertexMap build
    (reference: analytical_engine/core/vertex_map/global_vertex_map.h):
    hash-partition the distinct oids, count rows per partition, prefix-sum
    the counts on the driver (num_partitions scalars), then number rows
    within each partition (window partitioned by partition id — never a
    single global partition). Deterministic for a fixed partition count.
    """
    d = (
        df.select(F.col(oid_col).alias("oid"))
        .distinct()
        .repartition(num_partitions, "oid")
        .withColumn("_pid", F.spark_partition_id())
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    if aux is not None:  # let the caller free this intermediate cache
        aux.append(d)
    counts = {r["_pid"]: r["cnt"] for r in d.groupBy("_pid").agg(F.count("*").alias("cnt")).collect()}
    offsets, acc = {}, 0
    for pid in sorted(counts):
        offsets[pid] = acc
        acc += counts[pid]
    spark = d.sparkSession
    offset_df = F.broadcast(
        spark.createDataFrame(
            [(int(pid), int(off)) for pid, off in offsets.items()], "_pid INT, _offset LONG"
        )
    )
    w = Window.partitionBy("_pid").orderBy("oid")
    out = (
        d.join(offset_df, "_pid")
        .withColumn(vid_col, F.row_number().over(w) - F.lit(1) + F.col("_offset"))
        .select(F.col(vid_col).cast("long"), F.col("oid").alias(oid_col))
    )
    return out


class LinkGraph:
    """A directed (or undirected) graph over two DataFrames.

    ``edges``: (src: long, dst: long [, properties...]) — dense vertex ids.
    With ``directed=False`` the caller must supply an already-symmetric
    edge set (both orientations present) — mirroring the reference, where
    undirected CSR fragments store each edge in both adjacency lists
    (docs/analytical_engine/performance_tuning.md:42-84).
    ``vertices``: (vid: long [, oid, properties...]); derived from edges if
    not given.

    The constructor materializes its inputs once (``truncate``), then
    repartitions the edge table by ``src`` (vertices by ``vid``) and
    persists it; all algorithms join against this stable partitioning
    (reference analogue: the immutable ArrowFragment shared by every app
    run). Truncating the input, not the repartitioned frame, keeps the
    cache's ``hashpartitioning`` (a checkpoint of it reports
    ``UnknownPartitioning`` under AQE, so every superstep would re-exchange
    the edges) and gives every cache a leaf plan: building a graph eagerly
    runs its loader once, and the plans built on it stay kilobytes.
    ``unpersist_all`` frees the checkpoints, so no frame derived from the
    graph may be computed after it.
    """

    def __init__(
        self,
        spark: SparkSession,
        edges: DataFrame,
        vertices: DataFrame | None = None,
        directed: bool = True,
        num_partitions: int | None = None,
    ):
        self.spark = spark
        self.directed = directed
        # default to spark.sql.shuffle.partitions, NOT defaultParallelism:
        # shuffled joins require both sides partitioned to the SHUFFLE
        # partition count — a mismatched edge cache gets silently
        # re-exchanged every superstep (caught by test_plan_quality)
        if num_partitions is None:
            num_partitions = int(spark.conf.get("spark.sql.shuffle.partitions"))
        self.num_partitions = num_partitions
        prop_cols = [c for c in edges.columns if c not in ("src", "dst")]
        self.edge_prop_cols = prop_cols
        # the checkpoints of the inputs under the caches, freed by
        # unpersist_all
        base = truncate(edges.select(
            F.col("src").cast("long"), F.col("dst").cast("long"),
            *[F.col(c) for c in prop_cols]))
        self._aux_cached: list[DataFrame] = [base]
        self.edges = base.repartition(self.num_partitions, "src") \
            .persist(StorageLevel.MEMORY_AND_DISK)
        if vertices is None:  # read the edge cache: already a leaf plan
            vertices = (
                self.edges.select(F.col("src").alias("vid"))
                .union(self.edges.select(F.col("dst").alias("vid")))
                .distinct()
            )
        else:
            vertices = truncate(vertices)
            self._aux_cached.append(vertices)
        self.vertices = (
            vertices.repartition(self.num_partitions, "vid").persist(StorageLevel.MEMORY_AND_DISK)
        )
        self._num_vertices: int | None = None
        self._num_edges: int | None = None
        self._sym_edges: DataFrame | None = None
        self._und_edges: DataFrame | None = None
        self._dir_simple_edges: DataFrame | None = None
        self._oriented_edges: DataFrame | None = None
        self._out_degrees: DataFrame | None = None
        self._und_degrees: DataFrame | None = None

    # ---- factories -------------------------------------------------------

    @classmethod
    def from_oid_edges(
        cls,
        spark: SparkSession,
        oid_edges: DataFrame,
        src_col: str = "src_oid",
        dst_col: str = "dst_oid",
        directed: bool = True,
        num_partitions: int | None = None,
        oid_vertices: DataFrame | None = None,
        edge_props: Sequence[str] = (),
    ) -> "LinkGraph":
        """Build from edges keyed by arbitrary (string) original ids.

        Mirrors CREATE_GRAPH (reference:
        analytical_engine/core/loader/arrow_fragment_loader.h:248-255):
        build the oid→vid map, then broadcast-free join it onto both edge
        endpoints. ``oid_vertices`` (``oid`` [, properties...]) adds
        vertices no edge touches, and its property columns are joined onto
        the vertex table; ``edge_props`` names the ``oid_edges`` columns
        kept as edge properties.
        """
        # MUST default to the shuffle partition count, like the
        # constructor: a defaultParallelism-partitioned edge cache gets
        # silently re-exchanged every superstep whenever the two differ
        num_partitions = num_partitions or int(
            spark.conf.get("spark.sql.shuffle.partitions"))
        # materialized once: the vertex map and both endpoint joins read it,
        # and each would otherwise rerun the loader's pipeline
        edge_props = list(edge_props)
        oid_edges = truncate(oid_edges.select(src_col, dst_col, *edge_props))
        # per-side distinct BEFORE the union: the map-side combine of each
        # distinct dedupes the (wide, string) oid column early, so the
        # union that feeds the final distinct carries far fewer rows —
        # one narrow pass instead of a second wide one at 100 TB
        oids = oid_edges.select(F.col(src_col).alias("oid")).distinct().union(
            oid_edges.select(F.col(dst_col).alias("oid")).distinct()
        )
        if oid_vertices is not None:
            oids = oids.union(oid_vertices.select("oid").distinct())
        aux: list[DataFrame] = []
        vmap = assign_dense_ids(oids, "oid", num_partitions, aux=aux) \
            .persist(StorageLevel.MEMORY_AND_DISK)
        aux.append(vmap)
        e = (
            oid_edges.join(vmap.withColumnRenamed("vid", "src"), oid_edges[src_col] == vmap["oid"])
            .drop("oid")
            .join(
                vmap.withColumnRenamed("vid", "dst").withColumnRenamed("oid", "_doid"),
                F.col(dst_col) == F.col("_doid"),
            )
            .select("src", "dst", *edge_props)
        )
        if not directed:
            # the LinkGraph contract requires undirected edge sets to be
            # symmetric (both orientations stored, as the reference's
            # undirected CSR does); inputs list each edge once, so mirror
            # it here — distinct() keeps already-symmetric inputs stable
            e = e.union(
                e.select(F.col("dst").alias("src"), F.col("src").alias("dst"),
                         *edge_props)
            ).distinct()
        vertices = vmap
        if oid_vertices is not None and len(oid_vertices.columns) > 1:
            vertices = vmap.join(oid_vertices, "oid", "left")
        g = cls(spark, e, vertices=vertices, directed=directed,
                num_partitions=num_partitions)
        # dead: the constructor's checkpoints were their last readers
        free_truncated(oid_edges)
        for df in aux:
            df.unpersist()
        return g

    # ---- basic stats (REPORT_GRAPH, reference grape_instance.cc:353-359) --

    @property
    def num_vertices(self) -> int:
        if self._num_vertices is None:
            self._num_vertices = self.vertices.count()
        return self._num_vertices

    @property
    def num_edges(self) -> int:
        if self._num_edges is None:
            self._num_edges = self.edges.count()
        return self._num_edges

    def report(self) -> dict:
        deg = self.und_degrees().agg(
            F.max("deg").alias("max"), F.avg("deg").alias("avg")
        ).first()
        return {
            "num_vertices": self.num_vertices,
            "num_edges": self.num_edges,
            "directed": self.directed,
            "max_degree": deg["max"],
            "avg_degree": deg["avg"],
            "num_partitions": self.num_partitions,
        }

    # ---- derived views (cached; built once, reused by every algorithm) ----

    def sym_edges(self) -> DataFrame:
        """Edges in both directions, duplicates kept (multiset neighborhood).

        For a directed graph this is the in⊎out neighbor multiset used by
        CDLP/WCC message passing (reference pushes along both adjacency
        lists: benchmarks/apps/wcc/wcc.h:76-94). For an undirected graph the
        stored edges are already symmetric — returned as-is.
        """
        if self._sym_edges is None:
            if self.directed:
                ed = self.edges.select("src", "dst")
                e = ed.union(ed.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
                self._sym_edges = e.repartition(self.num_partitions, "src").persist(
                    StorageLevel.MEMORY_AND_DISK
                )
            else:
                self._sym_edges = self.edges
        return self._sym_edges

    def und_edges(self) -> DataFrame:
        """Simple undirected view: both directions, self-loops dropped,
        deduplicated (PROJECT_TO_SIMPLE + TO_UNDIRECTED, reference
        grape_instance.cc:1389-1410)."""
        if self._und_edges is None:
            e = (
                self.edges.filter(F.col("src") != F.col("dst"))
                .select("src", "dst")
                .union(
                    self.edges.filter(F.col("src") != F.col("dst")).select(
                        F.col("dst").alias("src"), F.col("src").alias("dst")
                    )
                )
                .distinct()
            )
            self._und_edges = e.repartition(self.num_partitions, "src").persist(
                StorageLevel.MEMORY_AND_DISK
            )
        return self._und_edges

    def dir_simple_edges(self) -> DataFrame:
        """Simple directed view: self-loops dropped, parallel edges
        deduplicated, stored direction kept (PROJECT_TO_SIMPLE without
        TO_UNDIRECTED). Cached at graph lifetime — directed pattern
        matching re-joins this view k−1 times per pattern."""
        if self._dir_simple_edges is None:
            e = (
                self.edges.filter(F.col("src") != F.col("dst"))
                .select("src", "dst")
                .distinct()
            )
            self._dir_simple_edges = e.repartition(self.num_partitions, "src").persist(
                StorageLevel.MEMORY_AND_DISK
            )
        return self._dir_simple_edges

    def oriented_edges(self) -> DataFrame:
        """Degree-ordered orientation of the simple undirected view: edge
        src→dst kept iff (deg(dst), dst) < (deg(src), src). The triangle /
        subgraph-template / coloring family all join against this view —
        cached at graph lifetime so repeated calls share one copy (each
        used to persist-and-leak its own)."""
        if self._oriented_edges is None:
            und = self.und_edges()
            deg = self.und_degrees()
            dsrc = deg.select(F.col("vid").alias("src"), F.col("deg").alias("sdeg"))
            ddst = deg.select(F.col("vid").alias("dst"), F.col("deg").alias("ddeg"))
            self._oriented_edges = (
                und.join(dsrc, "src")
                .join(ddst, "dst")
                .filter(
                    (F.col("ddeg") < F.col("sdeg"))
                    | ((F.col("ddeg") == F.col("sdeg")) & (F.col("dst") < F.col("src")))
                )
                .select("src", "dst")
                .persist(StorageLevel.MEMORY_AND_DISK)
            )
        return self._oriented_edges

    def out_degrees(self) -> DataFrame:
        """(vid, deg) with zero rows for sink vertices included."""
        if self._out_degrees is None:
            d = self.edges.groupBy(F.col("src").alias("vid")).agg(F.count("*").alias("deg"))
            self._out_degrees = (
                self.vertices.select("vid")
                .join(d, "vid", "left")
                .select("vid", F.coalesce("deg", F.lit(0)).cast("long").alias("deg"))
                .repartition(self.num_partitions, "vid")
                .persist(StorageLevel.MEMORY_AND_DISK)
            )
        return self._out_degrees

    def in_degrees(self) -> DataFrame:
        d = self.edges.groupBy(F.col("dst").alias("vid")).agg(F.count("*").alias("deg"))
        return (
            self.vertices.select("vid")
            .join(d, "vid", "left")
            .select("vid", F.coalesce("deg", F.lit(0)).cast("long").alias("deg"))
        )

    def und_degrees(self) -> DataFrame:
        """Degree in the simple undirected view (triangles/LCC use this)."""
        if self._und_degrees is None:
            d = self.und_edges().groupBy(F.col("src").alias("vid")).agg(F.count("*").alias("deg"))
            self._und_degrees = (
                self.vertices.select("vid")
                .join(d, "vid", "left")
                .select("vid", F.coalesce("deg", F.lit(0)).cast("long").alias("deg"))
                .repartition(self.num_partitions, "vid")
                .persist(StorageLevel.MEMORY_AND_DISK)
            )
        return self._und_degrees

    # ---- graph-management ops (SURVEY.md §2.A) ----------------------------

    def to_undirected(self) -> "LinkGraph":
        return LinkGraph(
            self.spark,
            self.und_edges(),
            vertices=self.vertices,
            directed=False,
            num_partitions=self.num_partitions,
        )

    def induce_subgraph(self, vertex_subset: DataFrame) -> "LinkGraph":
        """INDUCE_SUBGRAPH (reference grape_instance.cc:1351-1452): keep
        edges whose both endpoints are in ``vertex_subset`` (a (vid) DF)."""
        vs = vertex_subset.select("vid")
        e = (
            self.edges.join(vs.withColumnRenamed("vid", "src"), "src", "left_semi")
            .join(vs.withColumnRenamed("vid", "dst"), "dst", "left_semi")
        )
        v = self.vertices.join(vs, "vid", "left_semi")
        return LinkGraph(self.spark, e, vertices=v, directed=self.directed,
                         num_partitions=self.num_partitions)

    def add_column(self, result: DataFrame) -> DataFrame:
        """ADD_COLUMN (reference grape_instance.cc:893): join an app result
        (vid, ...) back onto the vertex table."""
        return self.vertices.join(result, "vid", "left")

    # ---- persistence ("CSR blocks", SURVEY.md §1.5) ------------------------

    def materialize(self, path: str) -> None:
        """Write the graph as sorted, hash-bucketed parquet adjacency blocks
        so a re-load skips the build shuffle (vineyard-persistence analogue,
        reference grape_instance.cc:302-306)."""
        (
            self.edges.repartition(self.num_partitions, "src")
            .sortWithinPartitions("src", "dst")
            .write.mode("overwrite")
            .parquet(f"{path}/edges")
        )
        self.vertices.write.mode("overwrite").parquet(f"{path}/vertices")

    @classmethod
    def load(cls, spark: SparkSession, path: str, directed: bool = True,
             num_partitions: int | None = None) -> "LinkGraph":
        return cls(
            spark,
            spark.read.parquet(f"{path}/edges"),
            vertices=spark.read.parquet(f"{path}/vertices"),
            directed=directed,
            num_partitions=num_partitions,
        )

    def unpersist_all(self) -> None:
        for df in (self.edges, self.vertices, self._sym_edges, self._und_edges,
                   self._dir_simple_edges, self._oriented_edges,
                   self._out_degrees, self._und_degrees, *self._aux_cached):
            if df is not None:
                df.unpersist()
                free_truncated(df)
