"""SALSA vs a dense numpy power-iteration oracle (trajectory replay —
fixed iterations, both sides walk the SAME trajectory; the r5 lore
pattern that keeps iterative-kernel tests fast)."""

import numpy as np

from conftest import edges_df
from fixtures import er_graph
from oracles import salsa_oracle

from tric_spark.operators.hits import salsa


def _run(spark, directed, n, **kw):
    edges = edges_df(spark, directed)
    verts = spark.range(n).withColumnRenamed("id", "vid")
    rows = salsa(edges, verts, **kw).collect()
    hub, auth = np.zeros(n), np.zeros(n)
    for r in rows:
        hub[r.vid], auth[r.vid] = r.hub, r.auth
    return hub, auth


def test_salsa_vs_numpy_oracle_fixed_iters(spark):
    pairs = er_graph(n=50, p_inv=8)
    directed = [(u, v) for u, v in pairs] + [(v, u) for u, v in pairs if (u + v) % 3]
    hub_o, auth_o = salsa_oracle(directed, 50, max_iter=5)
    hub, auth = _run(spark, directed, 50, tol=0.0, max_iter=5)
    assert np.allclose(hub, hub_o, atol=1e-9)
    assert np.allclose(auth, auth_o, atol=1e-9)
    # the states are probability distributions (L1 mass 1)
    assert abs(hub.sum() - 1.0) < 1e-9
    assert abs(auth.sum() - 1.0) < 1e-9


def test_salsa_auth_is_indegree_share_on_connected_support(spark):
    """Lempel & Moran's closed form: on a graph whose bipartite authority
    chain is connected, the stationary authority weight is indeg(v)/|E| —
    the TKC-free property that distinguishes SALSA from HITS. 2 hubs ×
    3 authorities complete bipartite minus one edge keeps the chain
    connected with non-uniform in-degrees."""
    directed = [(0, 2), (0, 3), (0, 4), (1, 2), (1, 3)]  # indeg: 2,2,1
    hub, auth = _run(spark, directed, 5, tol=1e-12, max_iter=300)
    assert np.allclose(auth[2:], np.array([2, 2, 1]) / 5.0, atol=1e-9)
    assert np.allclose(hub[:2], np.array([3, 2]) / 5.0, atol=1e-9)


def test_salsa_vs_hits_tkc_effect(spark):
    """The motivating example: a small tightly-knit clique (3 hubs all
    pointing at 3 authorities) vs one authority with MORE total in-links
    from scattered hubs. HITS's principal eigenvector locks onto the
    clique; SALSA's per-hub degree normalization ranks the high-indegree
    outsider first (ACM TOIS 19(2) §3)."""
    clique = [(h, a) for h in (0, 1, 2) for a in (10, 11, 12)]
    scattered = [(h, 20) for h in (3, 4, 5, 6)]
    directed = clique + scattered
    _, auth_s = _run(spark, directed, 21, tol=1e-12, max_iter=300)
    from oracles import hits_oracle

    _, auth_h = hits_oracle(directed, 21, tol=1e-12, max_iter=300)
    assert auth_s[20] > auth_s[10]  # SALSA: 4 in-links beats the clique's 3
    assert auth_h[20] < auth_h[10]  # HITS: the clique's eigenvector wins


def test_salsa_edgeless_graph_stays_zero(spark):
    edges = edges_df(spark, []).limit(0)
    verts = spark.range(4).withColumnRenamed("id", "vid")
    rows = salsa(edges, verts, tol=0.0, max_iter=2).collect()
    assert len(rows) == 4
    assert all(r.hub == 0.0 and r.auth == 0.0 for r in rows)


def test_salsa_empty_vertices(spark):
    edges = edges_df(spark, []).limit(0)
    verts = edges.select("src").withColumnRenamed("src", "vid").limit(0)
    assert salsa(edges, verts, tol=0.0, max_iter=2).count() == 0
