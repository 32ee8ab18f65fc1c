"""Expected answers for the benchmark, computed without Spark.

The import graph is rebuilt from the corpus rows by a line-based parser
written for this benchmark (it shares no code with
``graphscope_spark.corpus``), and PageRank, HashMin WCC, CDLP and per-vertex
triangles are recomputed on it with NumPy and plain Python, following the
semantics documented in ``tests/oracles.py``.
"""

from __future__ import annotations

import re
from dataclasses import dataclass

import numpy as np

_XREPO = re.compile(r"repo_\d+\.")


def _tokens(lang: str, content: str) -> list[str]:
    """Import tokens of one file, one per import line."""
    out = []
    for line in content.splitlines():
        if lang == "python":
            if line.startswith("import "):
                out.append(line.split()[1])
            elif line.startswith("from ") and " import " in line:
                out.append(line.split()[1])
        elif lang == "c":
            if line.startswith('#include "'):
                out.append(line[len('#include "'):].split('"')[0])
        elif lang == "java":
            if line.startswith("import ") and line.rstrip().endswith(";"):
                out.append(line[len("import "):].rstrip()[:-1].strip())
    return out


def expected_import_edges(repos, paths, langs, contents) -> tuple[set, int]:
    """(set of (src_oid, dst_oid), number of import tokens) for the corpus.

    Resolution rules: ``.h`` suffix dropped, ``/`` read as ``.``, a leading
    own-repo qualifier stripped, a leading ``repo_<n>.`` names the target
    repo (else the importing file's repo), the last component names the
    module; unresolved imports and self-imports produce no edge."""
    index = {}
    for repo, path in zip(repos, paths):
        module = path.rsplit("/", 1)[-1].split(".", 1)[0]
        index[(repo, module)] = f"{repo}/{path}"
    edges = set()
    n_tokens = 0
    for repo, path, lang, content in zip(repos, paths, langs, contents):
        src = f"{repo}/{path}"
        toks = _tokens(lang, content)
        n_tokens += len(toks)
        for tok in toks:
            if tok.endswith(".h"):
                tok = tok[:-2]
            tok = tok.replace("/", ".")
            if tok.startswith(repo + "."):
                tok = tok[len(repo) + 1:]
            target_repo = tok.split(".", 1)[0] if _XREPO.match(tok) else repo
            dst = index.get((target_repo, tok.rsplit(".", 1)[-1]))
            if dst is not None and dst != src:
                edges.add((src, dst))
    return edges, n_tokens


@dataclass
class Expected:
    """Oracle answers over dense vertex ids 0..n-1."""
    n: int
    src: np.ndarray
    dst: np.ndarray
    pagerank: np.ndarray
    pagerank_steps: int
    wcc: np.ndarray
    wcc_steps: int
    cdlp: np.ndarray
    triangles: np.ndarray
    wedges: int


def pagerank(n, src, dst, alpha=0.85, max_iter=100, tol=1e-6):
    """NetworkX-semantics PageRank iterated exactly as the engine's job."""
    deg = np.bincount(src, minlength=n).astype(np.float64)
    dangling = deg == 0
    rank = np.full(n, 1.0 / n)
    dangling_sum = alpha * (1.0 / n) * dangling.sum()
    step = 0
    while True:
        step += 1
        base = (1.0 - alpha) / n + dangling_sum / n
        contrib = np.where(dangling, 0.0, rank / np.where(dangling, 1.0, deg))
        new = alpha * np.bincount(dst, weights=contrib[src], minlength=n) + base
        eps = np.abs(new - rank).sum()
        dangling_sum = alpha * new[dangling].sum()
        rank = new
        if eps < tol * n or step > max_iter:
            return rank, step


def hashmin(n, src, dst):
    """HashMin components over the symmetric closure, with the step count
    of a frontier-driven run (the final step that changes nothing counts)."""
    s = np.concatenate([src, dst])
    d = np.concatenate([dst, src])
    comp = np.arange(n, dtype=np.int64)
    changed = np.ones(n, dtype=bool)
    steps = 0
    while True:
        steps += 1
        live = changed[s]
        mins = np.full(n, np.iinfo(np.int64).max)
        np.minimum.at(mins, d[live], comp[s[live]])
        changed = mins < comp
        comp = np.minimum(comp, mins)
        if not changed.any():
            return comp, steps


def cdlp(n, src, dst, max_round=10):
    """LDBC CDLP: adopt the most frequent in⊎out neighbour label, smallest
    label on ties; vertices with no neighbours keep their label."""
    s = np.concatenate([src, dst])
    d = np.concatenate([dst, src])
    label = np.arange(n, dtype=np.int64)
    for _ in range(max_round):
        keys, cnt = np.unique(d * n + label[s], return_counts=True)
        kd, kl = keys // n, keys % n
        order = np.lexsort((kl, -cnt, kd))
        kd, kl = kd[order], kl[order]
        first = np.ones(len(kd), dtype=bool)
        first[1:] = kd[1:] != kd[:-1]
        new = label.copy()
        new[kd[first]] = kl[first]
        if np.array_equal(new, label):
            break
        label = new
    return label


def triangles(n, src, dst):
    """Per-vertex triangle counts on the simple undirected view, oriented
    by (degree, id); also returns the oriented wedge count."""
    und = {(int(a), int(b)) for a, b in zip(src, dst) if a != b}
    und |= {(b, a) for a, b in und}
    deg = np.zeros(n, dtype=np.int64)
    for a, _ in und:
        deg[a] += 1
    out = [[] for _ in range(n)]
    for a, b in und:
        if (deg[b], b) < (deg[a], a):
            out[a].append(b)
    out_sets = [set(o) for o in out]
    tri = np.zeros(n, dtype=np.int64)
    wedges = 0
    for v in range(n):
        for u in out[v]:
            wedges += len(out[u])
            for w in out_sets[u] & out_sets[v]:
                tri[v] += 1
                tri[u] += 1
                tri[w] += 1
    return tri, wedges


def expected_answers(n: int, src: np.ndarray, dst: np.ndarray) -> Expected:
    rank, pr_steps = pagerank(n, src, dst)
    comp, wcc_steps = hashmin(n, src, dst)
    tri, wedges = triangles(n, src, dst)
    return Expected(n=n, src=src, dst=dst, pagerank=rank,
                    pagerank_steps=pr_steps, wcc=comp, wcc_steps=wcc_steps,
                    cdlp=cdlp(n, src, dst), triangles=tri, wedges=wedges)
