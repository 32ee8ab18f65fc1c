"""Labeled property-graph surface — the reference's Graph builder API.

Reference: python/graphscope/framework/graph.py —
``add_vertices(vertices, label, properties, vid_field)`` (:477),
``add_edges(edges, label, properties, src_label, dst_label, src_field,
dst_field)`` (:553), ``project(vertices={label: [props]},
edges={label: [props]})`` (:816), and the implicit
``project_to_simple`` every analytical app applies to a 1-vertex-label /
1-edge-label graph (framework/app.py:45, dag_utils.py:514). The
reference seals these into an ArrowPropertyFragment; here each label
stays a plain DataFrame and "sealing" is just the lazy plans — Catalyst
prunes unprojected property columns for free, which is the entire point
of PROJECT at scale (a projected 100 TB graph never reads the dropped
columns off parquet).

Semantics kept from the reference:
- builders are persistent (every add_* / project returns a NEW graph;
  the receiver is unchanged) — the DAG-node behavior without a DAG;
- adding an existing vertex label extends (unions) its rows, as the
  reference warns-and-extends;
- an edge label may hold several (src_label, dst_label) relations
  (reference e_relationships);
- ``project`` keeps only the named labels and property lists (None =
  all properties) and checks that every endpoint label of a kept edge
  label is kept;
- ``project_to_simple`` requires exactly one vertex and one edge label
  and yields the analytical :class:`LinkGraph`; vertex ids from
  different labels live in separate id spaces, so oids are namespaced
  ``label:id`` when a multi-label graph is flattened.
"""

from __future__ import annotations

from typing import Mapping, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from graphscope_spark.graph import LinkGraph


def _field(df: DataFrame, field) -> str:
    """Resolve an int position or a name to a column name (the
    reference's vid_field/src_field/dst_field accept both)."""
    if isinstance(field, int):
        return df.columns[field]
    if field not in df.columns:
        raise ValueError(f"column {field!r} not in {df.columns}")
    return field


class PropertyGraph:
    """Immutable labeled property graph over DataFrames.

    ``_vertices``: label → DataFrame("id", *props)
    ``_edges``: label → list of (src_label, dst_label,
    DataFrame("src", "dst", *props)) relations.
    """

    def __init__(self, spark: SparkSession, directed: bool = True):
        self.spark = spark
        self.directed = directed
        self._vertices: dict[str, DataFrame] = {}
        self._edges: dict[str, list[tuple[str, str, DataFrame]]] = {}

    def _copy(self) -> "PropertyGraph":
        g = PropertyGraph(self.spark, self.directed)
        g._vertices = dict(self._vertices)
        g._edges = {k: list(v) for k, v in self._edges.items()}
        return g

    # ---- builders (reference graph.py:477,553) ---------------------------

    def add_vertices(self, vertices: DataFrame, label: str = "_",
                     properties: Sequence[str] | None = None,
                     vid_field=0) -> "PropertyGraph":
        vid = _field(vertices, vid_field)
        props = ([c for c in vertices.columns if c != vid]
                 if properties is None else list(properties))
        df = vertices.select(F.col(vid).cast("string").alias("id"),
                             *[F.col(p) for p in props])
        g = self._copy()
        if label in g._vertices:  # reference warns and extends the label
            # allowMissingColumns: re-adding a label with a different
            # property set nulls the absent properties instead of raising
            # (reference's documented warn-and-extend behavior; ADVICE r03)
            g._vertices[label] = g._vertices[label].unionByName(
                df, allowMissingColumns=True)
        else:
            g._vertices[label] = df
        return g

    def add_edges(self, edges: DataFrame, label: str = "_e",
                  properties: Sequence[str] | None = None,
                  src_label: str = "_", dst_label: str = "_",
                  src_field=0, dst_field=1) -> "PropertyGraph":
        sc, dc = _field(edges, src_field), _field(edges, dst_field)
        props = ([c for c in edges.columns if c not in (sc, dc)]
                 if properties is None else list(properties))
        df = edges.select(F.col(sc).cast("string").alias("src"),
                          F.col(dc).cast("string").alias("dst"),
                          *[F.col(p) for p in props])
        g = self._copy()
        g._edges.setdefault(label, []).append((src_label, dst_label, df))
        return g

    # ---- schema (REPORT_GRAPH analogue) ----------------------------------

    @property
    def vertex_labels(self) -> list[str]:
        return sorted(self._vertices)

    @property
    def edge_labels(self) -> list[str]:
        return sorted(self._edges)

    def schema(self) -> dict:
        return {
            "vertex_labels": {
                lb: [c for c in df.columns if c != "id"]
                for lb, df in sorted(self._vertices.items())
            },
            "edge_labels": {
                lb: [
                    {"src": s, "dst": d,
                     "properties": [c for c in df.columns
                                    if c not in ("src", "dst")]}
                    for s, d, df in rels
                ]
                for lb, rels in sorted(self._edges.items())
            },
            "directed": self.directed,
        }

    def vertices(self, label: str) -> DataFrame:
        return self._vertices[label]

    def edges(self, label: str) -> DataFrame:
        rels = self._edges[label]
        out = rels[0][2]
        for _, _, df in rels[1:]:
            out = out.unionByName(df)
        return out

    # ---- project (reference graph.py:816) --------------------------------

    def project(self, vertices: Mapping[str, Sequence[str] | None],
                edges: Mapping[str, Sequence[str] | None]) -> "PropertyGraph":
        if not isinstance(vertices, Mapping) or not isinstance(edges, Mapping):
            raise ValueError(
                "project expects dicts {label: [property, ...] | None}")
        g = PropertyGraph(self.spark, self.directed)
        for lb, props in vertices.items():
            df = self._vertices[lb]
            keep = ([c for c in df.columns if c != "id"]
                    if props is None else list(props))
            g._vertices[lb] = df.select("id", *[F.col(p) for p in keep])
        for lb, props in edges.items():
            out = []
            for s, d, df in self._edges[lb]:
                if s not in g._vertices or d not in g._vertices:
                    raise ValueError(
                        f"edge label {lb!r} relates {s!r}->{d!r}; both "
                        "endpoint labels must be projected too")
                keep = ([c for c in df.columns if c not in ("src", "dst")]
                        if props is None else list(props))
                out.append((s, d, df.select("src", "dst",
                                            *[F.col(p) for p in keep])))
            g._edges[lb] = out
        return g

    # ---- flatten to the analytical engine --------------------------------

    def _namespaced_edges(self) -> DataFrame:
        """All relations as (src_oid, dst_oid) with label-namespaced oids
        (labels are separate id spaces in the reference's fragment)."""
        parts = []
        for _, rels in sorted(self._edges.items()):
            for s, d, df in rels:
                parts.append(df.select(
                    F.concat(F.lit(s + ":"), F.col("src")).alias("src_oid"),
                    F.concat(F.lit(d + ":"), F.col("dst")).alias("dst_oid")))
        if not parts:
            raise ValueError("no edge labels")
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    def to_link_graph(self, num_partitions: int | None = None) -> LinkGraph:
        """Flatten every label into one LinkGraph (vertex oids namespaced
        ``label:id``); isolated vertices from the vertex tables are kept,
        exactly like the reference fragment's full vertex map."""
        e = self._namespaced_edges()
        v_oids = None
        for lb, df in sorted(self._vertices.items()):
            v = df.select(F.concat(F.lit(lb + ":"), F.col("id")).alias("oid"))
            v_oids = v if v_oids is None else v_oids.unionByName(v)
        return LinkGraph.from_oid_edges(
            self.spark, e, directed=self.directed, num_partitions=num_partitions,
            oid_vertices=v_oids)

    def project_to_simple(self, v_prop: str | None = None,
                          e_prop: str | None = None,
                          num_partitions: int | None = None) -> LinkGraph:
        """The reference's implicit projection before every analytical
        app (framework/app.py:45; dag_utils.project_to_simple v_prop /
        e_prop selectors :514): requires exactly one vertex and one edge
        label; oids stay un-namespaced (single id space). ``e_prop``
        carries one edge property onto the LinkGraph as ``w`` (the
        weight column sssp-family operators consume); ``v_prop`` is
        joined onto the vertex table as ``prop``."""
        if len(self._vertices) != 1 or len(self._edges) != 1:
            raise ValueError(
                "project_to_simple needs exactly 1 vertex and 1 edge label "
                f"(have {self.vertex_labels} / {self.edge_labels}); "
                "call project(...) first")
        (_, rels), = self._edges.items()
        e = rels[0][2]
        for _, _, df in rels[1:]:
            e = e.unionByName(df)
        wcols = [F.col(e_prop).cast("double").alias("w")] if e_prop else []
        e = e.select(F.col("src").alias("src_oid"),
                     F.col("dst").alias("dst_oid"), *wcols)
        (_, vdf), = self._vertices.items()
        vprops = [F.col(v_prop).alias("prop")] if v_prop else []
        return LinkGraph.from_oid_edges(
            self.spark, e, directed=self.directed, num_partitions=num_partitions,
            oid_vertices=vdf.select(F.col("id").alias("oid"), *vprops),
            edge_props=["w"] if e_prop else [])
