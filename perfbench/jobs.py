"""The benchmark jobs: how each opens its input, runs one pass through
the engine's public API, and is checked against the fixture's oracle.

A pass gets its own empty directory (outputs and superstep checkpoints) and
leaves no cached frame behind, so every pass recomputes everything.
"""

from __future__ import annotations

import os

import duckdb

from tric_spark import cli, graph, pipeline
from tric_spark.extract import outlink_edges
from tric_spark.operators import tc
from tric_spark.plans import partition
from tric_spark.sources import binary_csr

# PageRank to 1e-4 (5 supersteps here) rather than 1e-6 (10): the pass has
# to be short enough to repeat within the run budget; the job keeps every
# stage kind, only with fewer supersteps
PR_TOL = 1e-4
LP_ITERS = 5
MASS_TOL = 1e-6


def dir_size(path: str) -> tuple[int, int]:
    """(bytes, files) under ``path``."""
    size = files = 0
    for dirpath, _dirs, names in os.walk(path):
        for name in names:
            size += os.path.getsize(os.path.join(dirpath, name))
            files += 1
    return size, files


def commits(checkpoint_dir: str) -> int:
    """Committed superstep checkpoints (a step dir with its meta file)."""
    n = 0
    for dirpath, _dirs, names in os.walk(checkpoint_dir):
        n += "_META.json" in names
    return n


def _check_components(rows, expected: dict, errors: list[str]) -> None:
    """``rows``: (key, vid, comp). Each expected component must carry one
    label, the least vid among its members."""
    if len(rows) != len(expected):
        errors.append(f"components: {len(rows)} rows, expected {len(expected)}")
        return
    least: dict = {}
    for key, vid, _comp in rows:
        lab = expected.get(key)
        if lab is None:
            errors.append(f"components: unexpected vertex {key!r}")
            return
        least[lab] = min(vid, least.get(lab, vid))
    bad = sum(comp != least[expected[key]] for key, _vid, comp in rows)
    if bad:
        errors.append(f"components: {bad} vertices carry a wrong component id")


class CrawlPipeline:
    """pages parquet -> ``pipeline.run_pipeline``: extraction, ids, graph
    views, TC, PageRank, CC, LP under durable superstep checkpoints,
    parquet outputs."""

    name = "crawl_pipeline"
    other_span = "pipeline"

    def open(self, spark, path):
        return spark.read.parquet(path)

    def run(self, spark, pages, pass_dir):
        out, ck = os.path.join(pass_dir, "out"), os.path.join(pass_dir, "ck")
        m = pipeline.run_pipeline(spark, pages, out, ck, pr_tol=PR_TOL, lp_iters=LP_ITERS)
        return {"metrics": m, "out": out, "ck": ck}

    def directed_edges(self, res) -> int:
        return 2 * res["metrics"]["n_edges_undirected"]

    def commits(self, res) -> int:
        return commits(res["ck"])

    def check(self, res, exp) -> list[str]:
        m, out = res["metrics"], res["out"]
        errors = []
        for got, want, what in (
            (m["n_vertices"], exp["vertices"], "vertices"),
            (m["n_edges_undirected"], exp["edges"], "edges"),
            (m["triangles_total"], exp["triangles"], "triangles"),
        ):
            if got != want:
                errors.append(f"{what}: {got}, expected {want}")
        con = duckdb.connect()
        q = lambda sql: con.execute(sql.format(out=out)).fetchall()  # noqa: E731
        ids = "read_parquet('{out}/vertex_ids/*.parquet')"
        tpv = q(f"SELECT i.url, t.tc FROM read_parquet('{{out}}/triangles_per_vertex/*.parquet') t "
                f"JOIN {ids} i USING (vid) WHERE t.tc > 0")
        if dict(tpv) != exp["tpv"]:
            errors.append("triangles per vertex differ from the oracle")
        comps = q(f"SELECT i.url, c.vid, c.comp FROM read_parquet('{{out}}/components/*.parquet') c "
                  f"JOIN {ids} i USING (vid)")
        _check_components(comps, exp["components"], errors)
        n, mass, low = q("SELECT count(*), sum(rank), min(rank) FROM read_parquet('{out}/pagerank/*.parquet')")[0]
        if n != exp["vertices"] or abs(mass - 1.0) > MASS_TOL or low <= 0:
            errors.append(f"pagerank: {n} rows, mass {mass!r}, min rank {low!r}")
        n, stray = q(f"SELECT count(*), count(*) FILTER (WHERE label NOT IN (SELECT vid FROM {ids})) "
                     "FROM read_parquet('{out}/labels/*.parquet')")[0]
        if n != exp["vertices"] or stray:
            errors.append(f"labels: {n} rows ({stray} not a vertex id), expected {exp['vertices']}")
        con.close()
        return errors

    def trace_wraps(self):
        return [
            (pipeline, "build_link_graph", "graph"),
            (pipeline, "pagerank", "pagerank"),
            (pipeline, "connected_components", "cc"),
            (pipeline, "label_propagation", "lp"),
            (tc, "triangle_count", "tc"),
            (pipeline, "partition_stats", "plans.partition"),
        ]

    def layer_probes(self, spark, pages, tracer, res, exp):
        g = tracer.last_result["graph"]
        with tracer.span("extract"):
            links = outlink_edges(pages).count()
        ck_bytes, ck_files = dir_size(res["ck"])
        con = duckdb.connect()
        n_comps = con.execute(
            f"SELECT count(DISTINCT comp) FROM read_parquet('{res['out']}/components/*.parquet')"
        ).fetchone()[0]
        con.close()
        counts = {
            "extract.links": links,
            "plans.partition_skew": tracer.last_result["plans.partition"]["skew_ratio"],
            "tc.triangles": res["metrics"]["triangles_total"],
            "cc.components": n_comps,
            "supersteps.commits": commits(res["ck"]),
            "supersteps.checkpoint_bytes": ck_bytes,
            "supersteps.checkpoint_files": ck_files,
            "pipeline.output_bytes": dir_size(res["out"])[0],
            **view_counts(g.canon, g.deg, g.oriented),
        }
        # ids are url hashes here, so the oriented wedge total is not
        # comparable with the oracle's url-index orientation
        return counts, []


class RmatTric:
    """binary CSR file -> ``cli.run`` as ``python -m tric_spark -f graph.bin
    --per-vertex``: distributed CSR reader, canonical edges, auto TC and
    per-vertex counts."""

    name = "rmat_tric"
    other_span = "cli"

    def open(self, spark, path):
        return cli.build_parser().parse_args(["-f", path, "--per-vertex"])

    def run(self, spark, args, pass_dir):
        return cli.run(args, spark=spark)

    def directed_edges(self, res) -> int:
        return res["n_edges_directed"]

    def commits(self, res) -> int:
        return 0

    def check(self, res, exp) -> list[str]:
        errors = []
        for got, want, what in (
            (res["triangles"], exp["triangles"], "triangles"),
            (res["n_edges_directed"], 2 * exp["edges"], "directed edges"),
            (res["n_vertices_with_triangles"], exp["vertices_with_triangles"], "vertices with triangles"),
        ):
            if got != want:
                errors.append(f"{what}: {got}, expected {want}")
        return errors

    def trace_wraps(self):
        return [(tc, "triangle_count", "tc")]

    def layer_probes(self, spark, args, tracer, res, exp):
        """Times the reader and the graph views on their own, and runs every
        TC kernel on the same oriented table: all must agree."""
        with tracer.span("sources"):
            read = binary_csr.read_binary_csr_distributed(spark, args.file).count()
        with tracer.span("graph"):
            edges = binary_csr.read_binary_csr_distributed(spark, args.file)
            canon = graph.canonical_edges(edges).cache()
            deg = graph.degrees(graph.symmetrize(canon)).cache()
            oriented = graph.orient_by_degree(canon, deg).cache()
            m = canon.count()
            oriented.count()
        errors = []
        with tracer.span("kernels"):
            for strategy in ("adj2", "adj", "join"):
                got = tc.triangle_count(oriented, strategy=strategy, deg=deg, m=m)
                if got != exp["triangles"]:
                    errors.append(f"tc kernel {strategy}: {got}, expected {exp['triangles']}")
        counts = {
            "sources.edges_read": read,
            "plans.partition_skew": partition_skew(canon),
            "tc.triangles": res["triangles"],
            **view_counts(canon, deg, oriented),
        }
        if counts["tc.wedges"] != exp["wedges"]:
            errors.append(f"tc.wedges: {counts['tc.wedges']}, expected {exp['wedges']}")
        return counts, errors


WORKLOADS = {w.name: w for w in (CrawlPipeline(), RmatTric())}


def partition_skew(canon) -> float:
    """max/avg rows per partition of the canonical edges."""
    return float(partition.partition_stats(canon)["skew_ratio"])


def view_counts(canon, deg, oriented) -> dict:
    """Vertex/edge/degree counts of the built views and the oriented wedge
    total (sum over vertices of C(out-degree, 2)): the TC kernels' probes."""
    from pyspark.sql import functions as F

    c = F.col("count")
    return {
        "graph.vertices": deg.count(),
        "graph.edges": canon.count(),
        "graph.max_degree": deg.agg(F.max("degree")).first()[0],
        "tc.wedges": oriented.groupBy("src").count().agg(F.sum(c * (c - 1) / 2)).first()[0],
    }
