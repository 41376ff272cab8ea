import json
import os

import pytest

from tric_spark import synth
from tric_spark.operators import tc
from tric_spark.pipeline import build_link_graph, run_analytics, run_pipeline


def test_run_pipeline_writes_everything(spark, tmp_path):
    pages = synth.pages_table(spark, 300, seed=42)
    out = str(tmp_path / "out")
    metrics = run_pipeline(
        spark, pages, out, checkpoint_dir=str(tmp_path / "ck"),
        pr_max_iter=3, pr_tol=0.0, lp_iters=2,
    )
    assert metrics["n_vertices"] == 300  # every target id < n exists as a page
    assert metrics["n_edges_undirected"] > 300
    # the total and the row counts come from observed metrics on the
    # writes: check them against a fresh TC run and read-back counts
    g = build_link_graph(spark, pages)
    assert metrics["triangles_total"] == tc.triangle_count(g.oriented, "join", deg=g.deg) > 0
    for name in ["triangles_per_vertex", "pagerank", "components", "labels"]:
        path = os.path.join(out, name)
        assert metrics["outputs"][name] == spark.read.parquet(path).count() > 0
    disk = json.load(open(os.path.join(out, "metrics.json")))
    assert disk["triangles_total"] == metrics["triangles_total"]
    # resumable: checkpoints were committed for each iterative kernel
    for k in ["pagerank", "cc", "lp"]:
        assert any(
            n.startswith("step_") for n in os.listdir(os.path.join(str(tmp_path / "ck"), k))
        )


def test_analytics_consistency(spark):
    pages = synth.pages_table(spark, 250, seed=7)
    g = build_link_graph(spark, pages)
    res = run_analytics(spark, g, pr_max_iter=2, pr_tol=0.0, lp_iters=1)
    pr_sum = sum(r.rank for r in res["pagerank"].collect())
    assert abs(pr_sum - 1.0) < 1e-9
    assert res["components"].count() == g.n_vertices
    assert res["labels"].count() == g.n_vertices


def test_analytics_include_hits(spark, tmp_path):
    pages = synth.pages_table(spark, 200, seed=11)
    g = build_link_graph(spark, pages)
    ck = str(tmp_path / "ck")
    kw = dict(checkpoint_dir=ck, pr_max_iter=2, pr_tol=0.0, lp_iters=1, include_hits=True)
    rows = run_analytics(spark, g, **kw)["hits"].collect()
    assert len(rows) == g.n_vertices
    # both score vectors are unit-L2 after any full iteration
    assert abs(sum(r.hub**2 for r in rows) - 1.0) < 1e-9
    assert abs(sum(r.auth**2 for r in rows) - 1.0) < 1e-9
    # HITS commits like the other kernels, and a rerun resumes its done
    # checkpoint: no new commit, the same scores
    steps = _ck_steps(os.path.join(ck, "hits"))
    assert len(steps) == 3  # superstep 0 + 2 iterations
    again = run_analytics(spark, g, **kw)["hits"].collect()
    assert _ck_steps(os.path.join(ck, "hits")) == steps
    assert sorted(again) == sorted(rows)


def _ck_steps(ck_dir):
    """Committed supersteps under one kernel's checkpoint dir."""
    return sorted(
        n for n in os.listdir(ck_dir)
        if os.path.exists(os.path.join(ck_dir, n, "_META.json"))
    )


def _set_job_group(sc, group):
    """Set (or with None clear) the calling thread's job group."""
    for key in ("spark.jobGroup.id", "spark.job.description"):
        sc.setLocalProperty(key, group)


def _cached_relation(spark, df):
    """The InMemoryRelation Spark's CacheManager serves for ``df``'s plan."""
    found = spark._jsparkSession.sharedState().cacheManager().lookupCachedData(df._jdf)
    assert found.isDefined()
    return found.get().cachedRepresentation()


def test_build_materializes_every_cached_view(spark):
    """No query of the concurrent kernels may find a graph view's cache
    empty: AQE would fill it inside that query, and how many fill jobs run
    then depends on timing."""
    from tric_spark.graph import out_adjacency

    pages = synth.pages_table(spark, 120, seed=5)
    g = build_link_graph(spark, pages)
    for df in (g.canon, g.sym, g.deg, g.oriented, g.verts, g.adj):
        assert _cached_relation(spark, df).cacheBuilder().isCachedColumnBuffersLoaded()
    # the adjacency PageRank, CC and LP build is served by g.adj's relation
    again = out_adjacency(g.sym.select("src", "dst"))
    assert _cached_relation(spark, again).equals(_cached_relation(spark, g.adj))


def test_run_analytics_caches_no_view_twice(spark, monkeypatch):
    """The kernels' adjacency plans are the one build_link_graph caches as
    LinkGraph.adj, so no kernel calls ``.cache()`` on an already-cached
    plan (each such call logs "Asked to cache already cached data")."""
    from pyspark import StorageLevel

    pages = synth.pages_table(spark, 150, seed=3)
    g = build_link_graph(spark, pages)
    DataFrame = type(g.adj)  # the concrete class, not the pyspark.sql facade
    orig = DataFrame.cache
    recached = []

    def recording(self):
        if self.storageLevel != StorageLevel.NONE:
            recached.append(self)
        return orig(self)

    monkeypatch.setattr(DataFrame, "cache", recording)
    run_analytics(spark, g, pr_max_iter=2, pr_tol=0.0, lp_iters=1)
    monkeypatch.undo()
    assert len(recached) == 0


def test_run_pipeline_job_count_repeats(spark, tmp_path):
    """Identical runs run identical Spark job counts, worker-thread jobs
    included (they count under the caller's job group only when the group
    is inherited). A cached graph view first filled inside the concurrent
    phase would make the count drift between runs."""
    pages = synth.pages_table(spark, 200, seed=13)
    sc = spark.sparkContext
    counts = []
    for i in range(3):
        spark.catalog.clearCache()
        group = f"{tmp_path.name}-run{i}"
        _set_job_group(sc, group)
        try:
            run_pipeline(
                spark, pages, str(tmp_path / f"out{i}"),
                checkpoint_dir=str(tmp_path / f"ck{i}"),
                pr_max_iter=3, pr_tol=0.0, lp_iters=2,
            )
        finally:
            _set_job_group(sc, None)
        counts.append(len(sc.statusTracker().getJobIdsForGroup(group)))
    spark.catalog.clearCache()
    assert counts[0] > 20
    assert counts == [counts[0]] * 3


def test_kernels_overlap_and_match_sequential(spark, monkeypatch):
    """PageRank, CC and LP must be in flight together: each wrapper waits
    until all three have started, which a one-after-another run never
    reaches (the barrier times out). Outputs equal the sequential calls."""
    import threading

    from tric_spark import pipeline

    pages = synth.pages_table(spark, 200, seed=17)
    g = build_link_graph(spark, pages)
    barrier = threading.Barrier(3, timeout=60)

    def meeting(fn):
        def wrapped(*args, **kwargs):
            barrier.wait()
            return fn(*args, **kwargs)

        return wrapped

    for name in ("pagerank", "connected_components", "label_propagation"):
        monkeypatch.setattr(pipeline, name, meeting(getattr(pipeline, name)))
    res = run_analytics(spark, g, pr_max_iter=4, pr_tol=0.0, lp_iters=2)
    monkeypatch.undo()

    from tric_spark.operators.cc import connected_components
    from tric_spark.operators.lp import label_propagation
    from tric_spark.operators.pagerank import pagerank

    want_pr = dict(pagerank(g.sym, g.verts, tol=0.0, max_iter=4).collect())
    want_cc = dict(connected_components(g.sym, g.verts).collect())
    want_lp = dict(label_propagation(g.sym, g.verts, num_iter=2).collect())
    got_pr = dict(res["pagerank"].collect())
    assert got_pr.keys() == want_pr.keys()
    assert max(abs(got_pr[v] - want_pr[v]) for v in want_pr) <= 1e-12
    assert dict(res["components"].collect()) == want_cc
    assert dict(res["labels"].collect()) == want_lp


def test_failing_kernel_fails_call_and_run_resumes(spark, tmp_path, monkeypatch):
    import threading

    import networkx as nx

    from tric_spark import pipeline

    pages = synth.pages_table(spark, 200, seed=19)
    ck = str(tmp_path / "ck")
    kw = dict(checkpoint_dir=ck, pr_max_iter=3, pr_tol=0.0, lp_iters=2)

    def broken(*args, **kwargs):
        raise RuntimeError("cc failed")

    monkeypatch.setattr(pipeline, "connected_components", broken)
    before = set(threading.enumerate())
    with pytest.raises(RuntimeError, match="cc failed"):
        run_pipeline(spark, pages, str(tmp_path / "out1"), **kw)
    leaked = [t for t in threading.enumerate() if t not in before and t.is_alive()]
    assert not leaked
    monkeypatch.undo()
    # the kernels that did not fail finished and committed
    pr_steps = _ck_steps(os.path.join(ck, "pagerank"))
    assert len(pr_steps) == 4  # superstep 0 + 3 iterations

    spark.catalog.clearCache()
    out = str(tmp_path / "out2")
    metrics = run_pipeline(spark, pages, out, **kw)
    assert _ck_steps(os.path.join(ck, "pagerank")) == pr_steps

    g = build_link_graph(spark, pages)
    G = nx.Graph()
    G.add_edges_from((r.src, r.dst) for r in g.canon.collect())
    assert metrics["n_vertices"] == G.number_of_nodes()
    assert metrics["n_edges_undirected"] == G.number_of_edges()
    assert metrics["triangles_total"] == sum(nx.triangles(G).values()) // 3
    for name in ("pagerank", "components", "labels"):
        assert metrics["outputs"][name] == G.number_of_nodes()
    want = {v: min(c) for c in nx.connected_components(G) for v in c}
    got = dict(spark.read.parquet(os.path.join(out, "components")).collect())
    assert got == want
