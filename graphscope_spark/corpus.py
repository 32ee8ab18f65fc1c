"""Source-code corpus ingestion: the north-rule input pipeline.

Input is an Iceberg-shaped table of source files
``(repo string, path string, commit string, lang string, content string)``
(BASELINE.json ``input_hint``). This module:

1. synthesizes that table deterministically at any scale (tests/bench run
   with no external data; every cell is a pure function of (repo_id,
   file_id), so generation is distributed and scale-independent — the same
   file has the same bytes whether the corpus has 10^3 or 10^12 rows);
2. extracts import/include references from ``content`` with a vectorized
   Arrow pandas UDF (the reference's loader parses source files on ingest;
   analogue of CREATE_GRAPH, reference
   analytical_engine/core/loader/arrow_fragment_loader.h:248-255) while
   computing ``sha256(content)`` JVM-side with ``F.sha2`` in the same pass
   (per-row invariant carried onto every derived edge);
3. resolves import strings to target files with joins (never driver-side
   loops) and builds a file-level :class:`LinkGraph`.

Languages modeled: python (``import x`` / ``from a.b import c``),
c (``#include "a/b.h"``), java (``import a.b;``) — enough structure to make
extraction genuinely multi-dialect like the reference's loaders.
"""

from __future__ import annotations

import re as _re

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, StringType

from graphscope_spark.graph import LinkGraph

CORPUS_SCHEMA = "repo string, path string, commit string, lang string, content string"

# deterministic per-(repo,file) pseudo-randomness: splitmix64 of a seed mix.
_SPLITMIX_C1 = 0x9E3779B97F4A7C15
_SPLITMIX_C2 = 0xBF58476D1CE4E5B9
_SPLITMIX_C3 = 0x94D049BB133111EB
_MASK = (1 << 64) - 1


def _mix(x: int) -> int:
    x = (x + _SPLITMIX_C1) & _MASK
    x = ((x ^ (x >> 30)) * _SPLITMIX_C2) & _MASK
    x = ((x ^ (x >> 27)) * _SPLITMIX_C3) & _MASK
    return x ^ (x >> 31)


_LANGS = ["python", "python", "python", "c", "java"]  # 60% python
_FILLER = [
    "def f_{i}(x):", "    return x + {i}", "int v_{i} = {i};",
    "// block {i}", "# section {i}", "class C{i}:", "    pass",
]


def _gen_file(repo_id: int, file_id: int, files_per_repo: int,
              seed: int) -> tuple[str, str, str, str, str]:
    """Pure function (repo_id, file_id) → one corpus row."""
    h = _mix(seed ^ (repo_id * 1_000_003 + file_id))
    lang = _LANGS[h % len(_LANGS)]
    repo = f"repo_{repo_id}"
    ext = {"python": "py", "c": "c", "java": "java"}[lang]
    path = f"src/mod_{file_id}.{ext}"
    commit = f"{_mix(h ^ 0xC0FFEE):016x}{_mix(h ^ 0xBEEF):016x}{_mix(h):08x}"[:40]

    lines: list[str] = [f"// {repo}/{path}" if lang != "python" else f"# {repo}/{path}"]
    # in-repo imports: power-law-ish — every file depends on mod_0 (the
    # repo's "util" hub, exercises salted hub aggregation), plus 0-3 others.
    targets = []
    if file_id != 0:
        targets.append(0)
    n_local = _mix(h ^ 1) % 4
    for k in range(n_local):
        t = _mix(h ^ (2 + k)) % files_per_repo
        if t != file_id:
            targets.append(t)
    # cross-repo imports: 0-2, aimed at low repo ids (hub repos).
    xrepo = []
    n_x = _mix(h ^ 7) % 3
    for k in range(n_x):
        r = _mix(h ^ (8 + k)) % max(1, repo_id + 1) if repo_id else 0
        t = _mix(h ^ (16 + k)) % files_per_repo
        if r != repo_id:
            xrepo.append((r, t))

    for t in sorted(set(targets)):
        if lang == "python":
            lines.append(f"import mod_{t}")
        elif lang == "c":
            lines.append(f'#include "mod_{t}.h"')
        else:
            lines.append(f"import {repo}.mod_{t};")
    for r, t in sorted(set(xrepo)):
        if lang == "python":
            lines.append(f"from repo_{r}.mod_{t} import thing")
        elif lang == "c":
            lines.append(f'#include "repo_{r}/mod_{t}.h"')
        else:
            lines.append(f"import repo_{r}.mod_{t};")

    for j in range(3 + _mix(h ^ 99) % 6):
        lines.append(_FILLER[_mix(h ^ (100 + j)) % len(_FILLER)].format(i=j))
    return repo, path, commit, lang, "\n".join(lines) + "\n"


def synthesize_corpus(
    spark: SparkSession,
    n_files: int = 1000,
    files_per_repo: int = 50,
    seed: int = 42,
    num_partitions: int | None = None,
) -> DataFrame:
    """Deterministic distributed corpus: ``spark.range`` over file ids →
    one Arrow-batched pandas UDF generating rows. No driver-side data."""
    parts = num_partitions or spark.sparkContext.defaultParallelism

    def gen(batches):
        for pdf in batches:
            rows = [
                _gen_file(int(i) // files_per_repo, int(i) % files_per_repo,
                          files_per_repo, seed)
                for i in pdf["id"]
            ]
            yield pd.DataFrame(rows, columns=["repo", "path", "commit", "lang", "content"])

    return (
        spark.range(0, n_files, 1, parts)
        .mapInPandas(gen, schema=CORPUS_SCHEMA)
    )


# ---- extraction -----------------------------------------------------------

_PY_IMPORT = _re.compile(
    r"^(?:import\s+([\w\.]+)|from\s+([\w\.]+)\s+import\b)", _re.M)
_C_INCLUDE = _re.compile(r'^#include\s+"([^"]+)"', _re.M)
_JAVA_IMPORT = _re.compile(r"^import\s+([\w\.]+)\s*;", _re.M)


@F.pandas_udf(ArrayType(StringType()))
def extract_imports(content: pd.Series, lang: pd.Series) -> pd.Series:
    """Import extraction over Arrow batches: one precompiled MULTILINE
    ``findall`` per document (the ``^`` anchor matches each line start,
    so no splitlines/Series round-trip per row — the earlier
    per-document pandas ``.str.extract`` paid a Series build plus a
    group-frame materialization per file on the ingestion hot path)."""
    out = []
    for text, lg in zip(content.values, lang.values):
        if text is None:
            out.append([])
        elif lg == "python":
            out.append([a or b for a, b in _PY_IMPORT.findall(text)])
        elif lg == "c":
            out.append(_C_INCLUDE.findall(text))
        elif lg == "java":
            out.append(_JAVA_IMPORT.findall(text))
        else:
            out.append([])
    return pd.Series(out)


def ingest(corpus: DataFrame) -> DataFrame:
    """corpus → file table with oid, sha256 and raw import tokens.

    ``sha256`` is computed JVM-side (``F.sha2``, whole-stage codegen) in
    the same projection as the extraction UDF — the per-row invariant the
    north rule requires, carried through to edge provenance.
    """
    return corpus.select(
        F.concat_ws("/", "repo", "path").alias("oid"),
        "repo",
        "path",
        "commit",
        "lang",
        F.sha2("content", 256).alias("sha256"),
        extract_imports("content", "lang").alias("imports"),
    )


def _module_of_path(col):
    """src/mod_3.py → mod_3 (the importable name of a file)."""
    return F.regexp_extract(F.element_at(F.split(col, "/"), -1), r"^([\w\-]+)\.", 1)


def resolve_edges(files: DataFrame) -> DataFrame:
    """Resolve raw import tokens to target files via joins.

    Token forms handled (normalizing all three languages):
      - ``mod_3`` / ``mod_3.h``                → in-repo module
      - ``repo_5.mod_2`` / ``repo_5/mod_2.h``  → cross-repo module
      - ``repo_0.mod_1`` where repo_0 == own repo (java style)

    Output: (src_oid, dst_oid, src_sha256, dst_sha256) — one row per
    resolved reference; unresolved imports (external libs) drop out of the
    inner join, as in any real import-graph build.
    """
    # explode_outer + a null filter, not explode: for an inner explode the
    # optimizer infers ``size(imports) > 0`` on its input, which evaluates
    # the Arrow UDF a second time for every file
    refs = (
        files.select("oid", "repo", "sha256",
                     F.explode_outer("imports").alias("tok"))
        .filter(F.col("tok").isNotNull())
        .withColumn("tok", F.regexp_replace("tok", r"\.h$", ""))
        .withColumn("tok", F.regexp_replace("tok", "/", "."))
        # java in-repo imports are fully qualified with own repo: strip it
        .withColumn(
            "tok",
            F.when(
                F.col("tok").startswith(F.concat(F.col("repo"), F.lit("."))),
                F.expr("substring(tok, length(repo) + 2)"),
            ).otherwise(F.col("tok")),
        )
        .withColumn(
            "target_repo",
            F.when(F.col("tok").rlike(r"^repo_\d+\."), F.split("tok", r"\.")[0])
            .otherwise(F.col("repo")),
        )
        .withColumn("target_mod", F.element_at(F.split("tok", r"\."), -1))
    )
    index = files.select(
        F.col("repo").alias("target_repo"),
        _module_of_path("path").alias("target_mod"),
        F.col("oid").alias("dst_oid"),
        F.col("sha256").alias("dst_sha256"),
    )
    return (
        refs.join(index, ["target_repo", "target_mod"])
        .select(
            F.col("oid").alias("src_oid"),
            "dst_oid",
            F.col("sha256").alias("src_sha256"),
            "dst_sha256",
        )
        .filter(F.col("src_oid") != F.col("dst_oid"))
        .distinct()
    )


def build_import_graph(
    spark: SparkSession,
    corpus: DataFrame,
    directed: bool = True,
    num_partitions: int | None = None,
) -> LinkGraph:
    """corpus → ingest → resolve → LinkGraph (dense vids, stable edge
    partitioning). The full CREATE_GRAPH pipeline of SURVEY.md §7.1."""
    files = ingest(corpus)
    edges = resolve_edges(files)
    return LinkGraph.from_oid_edges(
        spark, edges, src_col="src_oid", dst_col="dst_oid",
        directed=directed, num_partitions=num_partitions,
    )
