"""Seeded workload inputs and their independent expected results.

Every input is generated here with numpy from ``(workload, seed)`` alone --
no Spark, so generation never warms the JVM whose first pass is timed, and
no code of the package under test, so the expected results cannot inherit
its bugs. Each generated input is cached once per ``(workload, seed)`` under
the benchmark's work directory together with a manifest holding the file
checksums and the expected results; a cached input is reused only when its
checksums still match.

Expected results come from duckdb (edge/vertex/triangle counts, per-vertex
triangles) and networkx (connected components) over the generating edge
list, never from the engine.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import struct

import numpy as np

# Workload sizes. Set so that one benchmark run of each workload, with its
# fresh-JVM set-ups, fits the run budget on a 4-core box (see README.md).
CRAWL_PAGES = 2_000
RMAT_SCALE = 14
RMAT_EDGES = 120_000
# the crawl fixture has ~9% link targets that were never crawled (dangling
# frontier urls); they become graph vertices like any other url
FRONTIER_SHARE = 0.1
N_FILES = 8
VOCAB = "link graph web page crawl rank spark node edge hub index query".split()
LANGS = ("en", "de", "fr", "es")
FIXTURE_VERSION = 2


# ---------------------------------------------------------------------------
# generators
# ---------------------------------------------------------------------------


def _link_targets(rng: np.random.Generator, n: int, universe: int) -> tuple[np.ndarray, np.ndarray]:
    """Web-shaped directed links over ``n`` source pages.

    Out-degrees follow a truncated power law (P(deg > D) ~ 2/D, capped at
    n/10) so hub pages exist at every size. The degree sequence is the same
    for every seed (its quantiles, dealt to pages in seeded order), so every
    seed's graph has the same number of links. Half of the links
    point near their source (site-local navigation: this is what closes
    triangles), half to a popularity-skewed global target (low ids are the
    popular pages) drawn from ``universe`` >= n ids.
    """
    u = (rng.permutation(n) + 1) / n
    deg = np.minimum(max(2, n // 10), 1 + np.floor(2.0 / u)).astype(np.int64)
    src = np.repeat(np.arange(n, dtype=np.int64), deg)
    m = src.size
    local = rng.random(m) < 0.5
    near = (src + rng.integers(1, 17, m)) % n
    far = np.minimum(universe - 1, (universe * rng.random(m) ** 2).astype(np.int64))
    return src, np.where(local, near, far)


def _canonical(src: np.ndarray, dst: np.ndarray) -> np.ndarray:
    """(k, 2) undirected edge set, u < v, self-loops and duplicates dropped."""
    keep = src != dst
    a, b = src[keep], dst[keep]
    pairs = np.stack([np.minimum(a, b), np.maximum(a, b)], axis=1)
    return np.unique(pairs, axis=0)


def _url(vid: int, seed: int) -> str:
    return f"https://site{(int(vid) * 7919 + seed) % 1000}.example/p/{int(vid)}"


def _write_parquet(table, out_dir: str) -> None:
    """Write ``table`` as N_FILES parquet files (a pages table is many files)."""
    import pyarrow.parquet as pq

    os.makedirs(out_dir, exist_ok=True)
    n = table.num_rows
    for i in range(N_FILES):
        lo, hi = i * n // N_FILES, (i + 1) * n // N_FILES
        pq.write_table(table.slice(lo, hi - lo), os.path.join(out_dir, f"part-{i:05d}.parquet"))


def gen_crawl(seed: int, out_dir: str) -> np.ndarray:
    """Pages table (url, warc_ts, html, text, lang) whose anchors encode the
    link graph; returns the canonical edge list in url-index space."""
    import pyarrow as pa

    rng = np.random.default_rng([seed, 1])
    n = CRAWL_PAGES
    universe = int(n * (1 + FRONTIER_SHARE))
    src, dst = _link_targets(rng, n, universe)
    bounds = np.searchsorted(src, np.arange(n + 1))
    words = rng.integers(0, len(VOCAB), (n, 4))
    urls, html, text = [], [], []
    for v in range(n):
        body = f"page {v} about " + " ".join(VOCAB[w] for w in words[v])
        anchors = "".join(f'<a href="{_url(d, seed)}">l</a>' for d in dst[bounds[v]:bounds[v + 1]])
        urls.append(_url(v, seed))
        html.append(
            f"<html><head><title>t{v}</title></head><body><p>{body}</p>{anchors}</body></html>".encode()
        )
        text.append(f"t{v}\n{body}")
    ts = 1_735_689_600 + rng.integers(0, 31_536_000, n)
    table = pa.table(
        {
            "url": pa.array(urls, pa.string()),
            "warc_ts": pa.array(ts * 1_000_000, pa.timestamp("us", tz="UTC")),
            "html": pa.array(html, pa.binary()),
            "text": pa.array(text, pa.string()),
            "lang": pa.array([LANGS[i] for i in rng.integers(0, 4, n)], pa.string()),
        }
    )
    _write_parquet(table, out_dir)
    return _canonical(src, dst)


def gen_rmat(seed: int, path: str) -> np.ndarray:
    """R-MAT (Graph500 a/b/c) graph in the reference's binary CSR layout:
    int64 nv | int64 ne | int64 offsets[nv+1] | {int64 tail, float64 w}[ne],
    symmetric, each adjacency sorted. Vertex labels are permuted as in
    Graph500. Returns the canonical edge list."""
    rng = np.random.default_rng([seed, 2])
    a, b, c = 0.57, 0.19, 0.19
    src = np.zeros(RMAT_EDGES, np.int64)
    dst = np.zeros(RMAT_EDGES, np.int64)
    for lvl in range(RMAT_SCALE):
        u = rng.random(RMAT_EDGES)
        src |= (u >= a + b).astype(np.int64) << lvl
        dst |= (((u >= a) & (u < a + b)) | (u >= a + b + c)).astype(np.int64) << lvl
    nv = 1 << RMAT_SCALE
    perm = rng.permutation(nv)
    canon = _canonical(perm[src], perm[dst])
    s = np.concatenate([canon[:, 0], canon[:, 1]])
    d = np.concatenate([canon[:, 1], canon[:, 0]])
    order = np.lexsort((d, s))
    s, d = s[order], d[order]
    offsets = np.zeros(nv + 1, "<i8")
    np.cumsum(np.bincount(s, minlength=nv), out=offsets[1:])
    edges = np.empty(s.size, np.dtype([("tail", "<i8"), ("w", "<f8")]))
    edges["tail"], edges["w"] = d, 1.0
    with open(path, "wb") as f:
        f.write(struct.pack("<qq", nv, s.size))
        offsets.tofile(f)
        edges.tofile(f)
    return canon


# ---------------------------------------------------------------------------
# independent oracle
# ---------------------------------------------------------------------------


def oracle(canon: np.ndarray, want_components: bool) -> dict:
    """Expected counts for an undirected canonical edge list.

    duckdb counts triangles over the (degree, id)-oriented edges and lists
    each triangle's corners for the per-vertex counts; networkx gives the
    components (labelled by their least vertex)."""
    import duckdb
    import pandas as pd

    u, v = canon[:, 0], canon[:, 1]
    deg = np.bincount(np.concatenate([u, v]))
    u_first = (deg[u] < deg[v]) | ((deg[u] == deg[v]) & (u < v))
    o = pd.DataFrame({"a": np.where(u_first, u, v), "b": np.where(u_first, v, u)})
    con = duckdb.connect()
    con.register("o", o)
    per_vertex = con.execute(
        """
        WITH t AS (
            SELECT e1.a AS x, e1.b AS y, e2.b AS z
            FROM o e1 JOIN o e2 ON e1.b = e2.a JOIN o e3 ON e3.a = e1.a AND e3.b = e2.b
        )
        SELECT vid, count(*) AS tc FROM (
            SELECT x AS vid FROM t UNION ALL SELECT y FROM t UNION ALL SELECT z FROM t
        ) GROUP BY vid
        """
    ).fetchnumpy()
    con.close()
    out_deg = np.bincount(o["a"].to_numpy())
    exp = {
        "vertices": int(np.count_nonzero(deg)),
        "edges": int(len(canon)),
        "max_degree": int(deg.max()),
        "triangles": int(per_vertex["tc"].sum()) // 3,
        "wedges": int((out_deg * (out_deg - 1) // 2).sum()),
        "vertices_with_triangles": int(len(per_vertex["vid"])),
        "tpv": {int(k): int(c) for k, c in zip(per_vertex["vid"], per_vertex["tc"])},
    }
    if want_components:
        import networkx as nx

        g = nx.Graph()
        g.add_edges_from(canon.tolist())
        exp["components"] = {}
        for comp in nx.connected_components(g):
            least = min(comp)
            exp["components"].update(dict.fromkeys(comp, least))
    return exp


# ---------------------------------------------------------------------------
# cache
# ---------------------------------------------------------------------------


def _sha256(path: str) -> str:
    h = hashlib.sha256()
    with open(path, "rb") as f:
        for chunk in iter(lambda: f.read(1 << 20), b""):
            h.update(chunk)
    return h.hexdigest()


def _checksums(root: str) -> dict[str, str]:
    out = {}
    for dirpath, _dirs, files in os.walk(root):
        for name in files:
            p = os.path.join(dirpath, name)
            rel = os.path.relpath(p, root)
            if rel != "manifest.json":
                out[rel] = _sha256(p)
    return dict(sorted(out.items()))


def load(cache_dir: str, workload: str, seed: int) -> tuple[str, dict]:
    """(input path, expected results) for ``(workload, seed)``, generating
    and caching the fixture on first use. The expected-results dict holds
    the oracle values plus ``gen_s``, the generation time (0 on a hit)."""
    import time

    root = os.path.join(cache_dir, f"{workload}-{seed}-v{FIXTURE_VERSION}")
    manifest = os.path.join(root, "manifest.json")
    name = {"crawl_pipeline": "pages", "rmat_tric": "graph.bin"}[workload]
    path = os.path.join(root, name)
    if os.path.exists(manifest):
        with open(manifest) as f:
            m = json.load(f)
        if m["checksums"] == _checksums(root):
            exp = m["expected"]
            exp["gen_s"] = 0.0
            return path, exp
    shutil.rmtree(root, ignore_errors=True)
    os.makedirs(root)
    t0 = time.perf_counter()
    if workload == "crawl_pipeline":
        canon = gen_crawl(seed, path)
    else:
        canon = gen_rmat(seed, path)
    exp = oracle(canon, want_components=workload == "crawl_pipeline")
    if workload == "rmat_tric":
        del exp["tpv"]  # the CLI reports only how many vertices have one
    else:
        # the engine names vertices by url; key the oracle the same way
        universe = int(CRAWL_PAGES * (1 + FRONTIER_SHARE))
        urls = [_url(i, seed) for i in range(universe)]
        exp["tpv"] = {urls[k]: c for k, c in exp["tpv"].items()}
        exp["components"] = {urls[k]: c for k, c in exp["components"].items()}
    with open(manifest, "w") as f:
        json.dump({"workload": workload, "seed": seed, "checksums": _checksums(root), "expected": exp}, f)
    exp["gen_s"] = time.perf_counter() - t0
    return path, exp
