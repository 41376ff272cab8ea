import json
import os

import pytest

from conftest import edges_df
from fixtures import er_graph
from oracles import cc_oracle

from tric_spark import graph
from tric_spark.operators.cc import connected_components
from tric_spark.operators.lp import label_propagation
from tric_spark.operators.pagerank import pagerank
from tric_spark.streaming.supersteps import SuperstepDriver


def _tables(spark, pairs):
    canon = graph.canonical_edges(edges_df(spark, pairs))
    sym = graph.symmetrize(canon)
    return sym, graph.vertices(sym)


def test_kill_and_resume_bit_identical(spark, tmp_path):
    """Kill after 2 committed supersteps, resume, final state must be
    bit-identical to an uninterrupted run (SURVEY §5 item 5)."""
    pairs = er_graph(n=100, p_inv=60)
    sym, verts = _tables(spark, pairs)

    uninterrupted = {
        r.vid: r.comp
        for r in connected_components(
            sym, verts, driver=SuperstepDriver(spark, str(tmp_path / "full"))
        ).collect()
    }

    killer = SuperstepDriver(spark, str(tmp_path / "killed"), kill_after=2)
    with pytest.raises(RuntimeError, match="killed after superstep"):
        connected_components(sym, verts, max_iter=200, driver=killer)

    resumed_driver = SuperstepDriver(spark, str(tmp_path / "killed"))
    resumed = {
        r.vid: r.comp
        for r in connected_components(sym, verts, driver=resumed_driver).collect()
    }
    assert resumed == uninterrupted
    vertices = sorted({v for e in pairs for v in e})
    assert resumed == cc_oracle(pairs, vertices)


def test_resume_of_finished_run_returns_final_state(spark, tmp_path):
    pairs = [(0, 1), (1, 2), (3, 4)]
    sym, verts = _tables(spark, pairs)
    d1 = SuperstepDriver(spark, str(tmp_path / "ck"))
    first = {r.vid: r.comp for r in connected_components(sym, verts, driver=d1).collect()}
    d2 = SuperstepDriver(spark, str(tmp_path / "ck"))
    again = {r.vid: r.comp for r in connected_components(sym, verts, driver=d2).collect()}
    assert first == again == {0: 0, 1: 0, 2: 0, 3: 3, 4: 3}


def test_checkpointed_pagerank_matches_plain(spark, tmp_path):
    pairs = er_graph(n=40, p_inv=8)
    directed = pairs + [(v, u) for u, v in pairs]
    edges = edges_df(spark, directed)
    verts = spark.range(40).withColumnRenamed("id", "vid")
    plain = {r.vid: r.rank for r in pagerank(edges, verts).collect()}
    ck = {
        r.vid: r.rank
        for r in pagerank(
            edges, verts, driver=SuperstepDriver(spark, str(tmp_path / "pr"))
        ).collect()
    }
    assert set(plain) == set(ck)
    for v in plain:
        assert abs(plain[v] - ck[v]) < 1e-12


def _commits(ckdir: str) -> int:
    return sum(
        os.path.exists(os.path.join(ckdir, name, "_META.json"))
        for name in os.listdir(ckdir)
    )


def test_commit_meta_matches_data_in_one_job(spark, tmp_path, monkeypatch):
    """Every commit's meta (rows, per-file partitions from the parquet
    footers, schema) agrees with a Spark read of its data directory, and the
    commit itself runs exactly one Spark job: the write, no re-read."""
    pairs = er_graph(n=100, p_inv=60)
    sym, verts = _tables(spark, pairs)
    sc = spark.sparkContext
    groups = []
    orig = SuperstepDriver._write_checkpoint

    def tagged(self, df, i, extra):
        group = f"commit-{tmp_path.name}-{i}"
        groups.append(group)
        sc.setJobGroup(group, "checkpoint commit")
        try:
            return orig(self, df, i, extra)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)

    monkeypatch.setattr(SuperstepDriver, "_write_checkpoint", tagged)
    ckdir = tmp_path / "ck"
    connected_components(sym, verts, driver=SuperstepDriver(spark, str(ckdir)))
    steps = sorted(p for p in ckdir.iterdir() if (p / "_META.json").exists())
    assert len(steps) == len(groups) > 2
    for step in steps:
        meta = json.loads((step / "_META.json").read_text())
        data = spark.read.parquet(str(step / "data"))
        assert meta["rows"] == sum(meta["lineage"]["partitions"].values()) == data.count()
        assert meta["schema"] == data.schema.simpleString()
    tracker = sc.statusTracker()
    assert [len(tracker.getJobIdsForGroup(g)) for g in groups] == [1] * len(groups)


def _plain_and_checkpointed(spark, tmp_path, kernel):
    """Run ``kernel(driver)`` on the plain loop (a driver without a
    checkpoint dir, as every kernel uses by default) and under committed
    checkpoints: (plain rows, plain supersteps, checkpointed rows, commits)."""
    plain_drv = SuperstepDriver(spark)
    plain = kernel(plain_drv).collect()
    ckdir = str(tmp_path / "ck")
    ck = kernel(SuperstepDriver(spark, ckdir)).collect()
    return plain, len(plain_drv.counters), ck, _commits(ckdir)


@pytest.mark.parametrize("dangling", [False, True])
def test_checkpointed_pagerank_commits_match_plain_supersteps(
    spark, tmp_path, dangling
):
    """A plain run and a checkpointed run are the same superstep loop: the
    observed max|Δrank| stops both at the same superstep (one commit per
    plain superstep plus the initial state) with the same ranks. With tol=0
    the checkpointed run commits exactly ``max_iter`` supersteps."""
    pairs = er_graph(n=40, p_inv=8)
    if dangling:
        # er_graph pairs have u < v, so as directed edges u → v every
        # vertex without a larger neighbour is a sink
        edges = edges_df(spark, pairs)
        verts = spark.range(40).withColumnRenamed("id", "vid")
    else:
        edges, verts = _tables(spark, pairs)
    plain, steps, ck, commits = _plain_and_checkpointed(
        spark, tmp_path, lambda drv: pagerank(edges, verts, tol=1e-6, driver=drv)
    )
    assert steps > 2 and commits == steps + 1
    plain, ck = dict(plain), dict(ck)
    assert set(ck) == set(plain)
    assert max(abs(plain[v] - ck[v]) for v in plain) < 1e-12

    fixed = str(tmp_path / "fixed")
    pagerank(edges, verts, tol=0.0, max_iter=4, driver=SuperstepDriver(spark, fixed))
    assert _commits(fixed) == 4 + 1


def test_checkpointed_cc_and_lp_match_plain_supersteps(spark, tmp_path):
    """CC's observed "label changed" stops the plain and the checkpointed
    run at the same superstep with equal components; LP runs its fixed
    supersteps on both paths with equal labels."""
    pairs = er_graph(n=100, p_inv=60)
    sym, verts = _tables(spark, pairs)
    plain, steps, ck, commits = _plain_and_checkpointed(
        spark, tmp_path / "cc", lambda drv: connected_components(sym, verts, driver=drv)
    )
    assert steps > 2 and commits == steps + 1
    assert dict(plain) == dict(ck)

    plain, steps, ck, commits = _plain_and_checkpointed(
        spark, tmp_path / "lp", lambda drv: label_propagation(sym, verts, num_iter=3, driver=drv)
    )
    assert steps == 3 and commits == steps + 1
    assert dict(plain) == dict(ck)
