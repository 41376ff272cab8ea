import json
import os

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


def test_analytics_include_hits(spark):
    pages = synth.pages_table(spark, 200, seed=11)
    g = build_link_graph(spark, pages)
    res = run_analytics(spark, g, pr_max_iter=2, pr_tol=0.0, include_hits=True)
    rows = res["hits"].collect()
    assert len(rows) == g.n_vertices
    # both score vectors are unit-L2 after any full iteration
    assert abs(sum(r.hub**2 for r in rows) - 1.0) < 1e-9
    assert abs(sum(r.auth**2 for r in rows) - 1.0) < 1e-9
