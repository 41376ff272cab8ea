import numpy as np
import pytest

from conftest import edges_df
from fixtures import BIPARTITE33, TWO_K4, er_graph
from oracles import cc_oracle, lp_oracle, pagerank_oracle

from tric_spark import graph
from tric_spark.operators.cc import connected_components
from tric_spark.operators.lp import label_propagation
from tric_spark.operators.pagerank import pagerank


def _graph_tables(spark, pairs):
    canon = graph.canonical_edges(edges_df(spark, pairs))
    sym = graph.symmetrize(canon)
    verts = graph.vertices(sym)
    return canon, sym, verts


def test_pagerank_vs_numpy_oracle(spark):
    pairs = er_graph(n=60, p_inv=10)
    # directed graph = both directions plus some one-way edges for dangling
    directed = [(u, v) for u, v in pairs] + [(v, u) for u, v in pairs if (u + v) % 3]
    n = 60
    oracle = pagerank_oracle(directed, n)

    edges = edges_df(spark, directed)
    verts = spark.range(n).withColumnRenamed("id", "vid")
    result = pagerank(edges, verts)
    got = np.zeros(n)
    for r in result.collect():
        got[r.vid] = r.rank
    assert np.allclose(got, oracle, atol=1e-6)
    assert abs(got.sum() - 1.0) < 1e-9  # rank is a probability distribution


def test_pagerank_all_dangling(spark):
    # two isolated vertices with one edge 0→1: vertex 1 dangles
    edges = edges_df(spark, [(0, 1)])
    verts = spark.range(3).withColumnRenamed("id", "vid")
    oracle = pagerank_oracle([(0, 1)], 3)
    got = {r.vid: r.rank for r in pagerank(edges, verts).collect()}
    assert np.allclose([got[i] for i in range(3)], oracle, atol=1e-6)


def test_pagerank_dangling_chains_without_per_step_actions(spark, monkeypatch):
    """VERDICT r2 #7 + ADVICE r3: the dangling mass is an in-plan broadcast
    1-row aggregate — zero collects ever — but chaining is GATED OFF on
    dangling graphs (r4 A/B: chained dangling blocks recompute through the
    broadcast boundary, 42 s at chain=6 vs 5.8 s per-step), so a
    fixed-iteration run checkpoints every superstep here."""
    directed = [(0, 1), (1, 2), (2, 0), (0, 3)]  # vertex 3 is a sink
    edges = edges_df(spark, directed)
    verts = spark.range(4).withColumnRenamed("id", "vid")
    # patch the concrete class (pyspark.sql.classic under Spark 4), not the
    # pyspark.sql.DataFrame facade — instance lookups resolve to the subclass
    DataFrame = type(edges)

    calls = {"collect": 0, "ckpt": 0}
    orig_collect, orig_ckpt = DataFrame.collect, DataFrame.localCheckpoint

    def counting_collect(self):
        calls["collect"] += 1
        return orig_collect(self)

    def counting_ckpt(self, eager=True):
        calls["ckpt"] += 1
        return orig_ckpt(self, eager=eager)

    monkeypatch.setattr(DataFrame, "collect", counting_collect)
    monkeypatch.setattr(DataFrame, "localCheckpoint", counting_ckpt)
    result = pagerank(edges, verts, tol=0.0, max_iter=3)
    monkeypatch.undo()

    assert calls["collect"] == 0  # dangling mass never hits the driver
    # init + TWO per superstep since r6: the mass aggregate is materialized
    # before the broadcast dangling fold (the fold's BroadcastExchange
    # re-executed the m-row explode+groupBy every superstep otherwise),
    # then the state checkpoint (chain gated to 1 on dangling graphs)
    assert calls["ckpt"] == 7

    got = np.zeros(4)
    for r in result.collect():
        got[r.vid] = r.rank
    assert np.allclose(got, pagerank_oracle(directed, 4, max_iter=3, tol=0.0), atol=1e-9)


def test_cc_two_cliques(spark):
    canon, sym, verts = _graph_tables(spark, TWO_K4)
    got = {r.vid: r.comp for r in connected_components(sym, verts).collect()}
    assert got == cc_oracle(TWO_K4, range(8))
    assert set(got.values()) == {0, 4}


def test_cc_random_vs_oracle(spark):
    pairs = er_graph(n=100, p_inv=60)  # sparse → several components
    vertices = sorted({v for e in pairs for v in e})
    canon, sym, verts = _graph_tables(spark, pairs)
    got = {r.vid: r.comp for r in connected_components(sym, verts).collect()}
    assert got == cc_oracle(pairs, vertices)


def test_lp_bipartite_and_random(spark):
    for pairs, n_iter in [(BIPARTITE33, 2), (er_graph(70, 8), 3)]:
        vertices = sorted({v for e in pairs for v in e})
        canon, sym, verts = _graph_tables(spark, pairs)
        got = {r.vid: r.label for r in label_propagation(sym, verts, num_iter=n_iter).collect()}
        assert got == lp_oracle(pairs, vertices, n_iter)


def test_personalized_pagerank_vs_oracle(spark):
    import numpy as np
    from oracles import ppr_oracle
    from tric_spark.operators.pagerank import personalized_pagerank

    pairs = er_graph(n=50, p_inv=8)
    directed = pairs + [(v, u) for u, v in pairs if (u + v) % 2]  # some dangling
    n = 50
    seeds = [0, 3, 7]
    oracle = ppr_oracle(directed, n, seeds)
    edges = edges_df(spark, directed)
    verts = spark.range(n).withColumnRenamed("id", "vid")
    src = spark.createDataFrame([(s,) for s in seeds], "vid long")
    got = np.zeros(n)
    for r in personalized_pagerank(edges, verts, src).collect():
        got[r.vid] = r.rank
    assert np.allclose(got, oracle, atol=1e-6)
    # seeds hold well above the uniform share (3/50 = 0.06)
    assert got[seeds].sum() > 0.1


def test_weighted_pagerank_vs_oracle(spark):
    import numpy as np
    import random
    from oracles import weighted_pagerank_oracle
    from tric_spark.operators.pagerank import weighted_pagerank

    rng = random.Random(5)
    pairs = er_graph(n=40, p_inv=6)
    triples = [(u, v, 1.0 + rng.randint(0, 9)) for u, v in pairs] + [
        (v, u, 1.0 + rng.randint(0, 9)) for u, v in pairs if (u + v) % 3
    ]
    n = 40
    oracle = weighted_pagerank_oracle(triples, n)
    df = spark.createDataFrame(triples, "src long, dst long, weight double")
    verts = spark.range(n).withColumnRenamed("id", "vid")
    got = np.zeros(n)
    for r in weighted_pagerank(df, verts).collect():
        got[r.vid] = r.rank
    assert np.allclose(got, oracle, atol=1e-6)


@pytest.mark.parametrize("shape", ["symmetric", "sinks"])
def test_rank_kernels_reduce_to_pagerank(spark, shape):
    """The PageRank builder's two parameters pinned against each other, on
    the dangling-free step (symmetric) and the dangling one (sinks: u → v
    with u < v, so the top vertices dangle): unit weights reduce the
    weighted share to ``rank/out_deg``, and a seed set of every vertex
    reduces the seed teleport to the uniform 1/n, also when a seed is
    listed twice."""
    from pyspark.sql import functions as F
    from tric_spark.operators.pagerank import personalized_pagerank, weighted_pagerank
    from tric_spark.operators.trustrank import trustrank

    pairs = er_graph(n=30, p_inv=6)
    if shape == "symmetric":
        _, edges, verts = _graph_tables(spark, pairs)
    else:
        edges = edges_df(spark, pairs)
        verts = spark.range(30).withColumnRenamed("id", "vid")
    unit = edges.select("src", "dst", F.lit(1.0).alias("weight"))

    def ranks(df):
        return {r.vid: r.rank for r in df.collect()}

    want = ranks(pagerank(edges, verts))
    for run in (
        lambda: weighted_pagerank(unit, verts),
        lambda: personalized_pagerank(edges, verts, verts.union(verts)),
        lambda: trustrank(unit, verts, verts),
    ):
        got = ranks(run())
        assert got.keys() == want.keys()
        assert max(abs(got[v] - want[v]) for v in want) < 1e-12


def _kernel_runs(spark):
    """name → run(tol): each iterative kernel on a small graph, ``tol <= 0``
    meaning a fixed 2-superstep run (CC, which has no tol, runs 1)."""
    from tric_spark.operators.eigencentrality import eigenvector_centrality
    from tric_spark.operators.hits import hits, salsa
    from tric_spark.operators.katz import katz_centrality
    from tric_spark.operators.mppr import multi_personalized_pagerank
    from tric_spark.operators.pagerank import personalized_pagerank, weighted_pagerank
    from tric_spark.operators.trustrank import trustrank

    pairs = er_graph(n=30, p_inv=6)
    canon, sym, verts = _graph_tables(spark, pairs)
    sinks = edges_df(spark, pairs)  # u → v with u < v: the top vertices dangle
    all_v = spark.range(30).withColumnRenamed("id", "vid")
    sym_w = sym.withColumn("weight", (sym.src + sym.dst) % 3 + 1.0)
    seeds = spark.range(3).withColumnRenamed("id", "vid")
    # directed with distinct hub and authority scores: every edge forward,
    # two thirds of them also reversed
    mixed = edges_df(spark, pairs + [(v, u) for u, v in pairs if (u + v) % 3])
    seed_sets = spark.createDataFrame([(0, 0), (0, 1), (1, 2)], "set_id long, vid long")

    def it(tol):
        return 2 if tol <= 0 else 100

    return {
        "pagerank": lambda tol: pagerank(sym, verts, tol=tol, max_iter=it(tol)),
        "pagerank_dangling": lambda tol: pagerank(sinks, all_v, tol=tol, max_iter=it(tol)),
        "weighted": lambda tol: weighted_pagerank(sym_w, verts, tol=tol, max_iter=it(tol)),
        "ppr": lambda tol: personalized_pagerank(sym, verts, seeds, tol=tol, max_iter=it(tol)),
        "trustrank": lambda tol: trustrank(sym_w, verts, seeds, tol=tol, max_iter=it(tol)),
        "katz": lambda tol: katz_centrality(sym, verts, alpha=0.05, tol=tol, max_iter=it(tol)),
        "eigen": lambda tol: eigenvector_centrality(sym, verts, tol=tol, max_iter=it(tol)),
        "cc": lambda tol: connected_components(sym, verts, max_iter=1 if tol <= 0 else 200),
        "hits": lambda tol: hits(mixed, verts, tol=tol, max_iter=it(tol)),
        "salsa": lambda tol: salsa(mixed, verts, tol=tol, max_iter=it(tol)),
        "mppr": lambda tol: multi_personalized_pagerank(
            sym, verts, seed_sets, tol=tol, max_iter=it(tol)
        ),
    }


@pytest.mark.parametrize(
    "kernel",
    [
        "pagerank",
        "pagerank_dangling",
        "weighted",
        "ppr",
        "trustrank",
        "katz",
        "eigen",
        "cc",
        "hits",
        "salsa",
        "mppr",
    ],
)
def test_convergence_mode_adds_no_driver_actions(spark, monkeypatch, kernel):
    """Every iterative kernel runs the one superstep loop, whose convergence
    test reads max(_delta) from an observation on the superstep's own
    checkpoint: a run to convergence makes no more driver collect/count
    calls than a fixed-iteration run of the same kernel, however many more
    supersteps it takes."""
    run = _kernel_runs(spark)[kernel]
    DataFrame = type(spark.range(1))  # the concrete class, as above
    calls = {"actions": 0, "ckpt": 0}
    orig = {m: getattr(DataFrame, m) for m in ("collect", "count", "localCheckpoint")}

    def counted(method, key):
        def wrapper(self, *args, **kwargs):
            calls[key] += 1
            return orig[method](self, *args, **kwargs)

        return wrapper

    monkeypatch.setattr(DataFrame, "collect", counted("collect", "actions"))
    monkeypatch.setattr(DataFrame, "count", counted("count", "actions"))
    monkeypatch.setattr(DataFrame, "localCheckpoint", counted("localCheckpoint", "ckpt"))
    counts = {}
    for tol in (0.0, 1e-4):
        calls.update(actions=0, ckpt=0)
        run(tol)
        counts[tol] = dict(calls)
    monkeypatch.undo()

    fixed, conv = counts[0.0], counts[1e-4]
    assert conv["ckpt"] > fixed["ckpt"]  # converging took more supersteps
    assert conv["actions"] <= fixed["actions"]


def test_pagerank_warm_start(spark):
    from pyspark.sql import functions as F

    pairs = er_graph(n=50, p_inv=8)
    canon, sym, verts = _graph_tables(spark, pairs)

    # warm start FROM the fixpoint stays at the fixpoint
    fix = pagerank(sym, verts, tol=1e-12, max_iter=300)
    again = pagerank(sym, verts, tol=0.0, max_iter=2, init_ranks=fix)
    d = (
        fix.select("vid", F.col("rank").alias("r0"))
        .join(again, "vid")
        .agg(F.max(F.abs(F.col("rank") - F.col("r0"))))
        .collect()[0][0]
    )
    assert d < 1e-9

    # missing vids seed at the uniform 1/n: warm from an EMPTY init equals
    # the cold fixed-2-iteration run exactly
    empty = spark.createDataFrame([], "vid long, rank double")
    cold = pagerank(sym, verts, tol=0.0, max_iter=2)
    warm = pagerank(sym, verts, tol=0.0, max_iter=2, init_ranks=empty)
    dd = (
        cold.select("vid", F.col("rank").alias("r0"))
        .join(warm, "vid")
        .agg(F.max(F.abs(F.col("rank") - F.col("r0"))))
        .collect()[0][0]
    )
    assert dd == 0.0


def test_edge_diff(spark):
    old = edges_df(spark, [(0, 1), (1, 2), (2, 3)])
    new = edges_df(spark, [(0, 1), (2, 3), (3, 4), (4, 5)])
    r = graph.edge_diff(old, new).collect()[0]
    assert (r["n_old"], r["n_new"]) == (3, 4)
    assert (r["n_added"], r["n_removed"], r["n_common"]) == (2, 1, 2)
    assert abs(r["jaccard"] - 0.4) < 1e-9
    e = spark.createDataFrame([], "src long, dst long")
    assert graph.edge_diff(e, e).collect()[0]["jaccard"] is None
