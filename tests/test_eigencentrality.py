import math

import pytest

from tests.conftest import edges_df
from tric_spark import graph
from tric_spark.operators.eigencentrality import eigenvector_centrality

PATH4 = [(0, 1), (1, 2), (2, 3)]
STAR = [(0, 1), (0, 2), (0, 3), (0, 4)]


def _brute_trajectory(pairs, iters):
    """Replay the EXACT per-step normalized trajectory (tol=0 lore:
    trajectory replay, not fixpoint convergence)."""
    adj = {}
    for u, v in pairs:
        adj.setdefault(u, set()).add(v)
        adj.setdefault(v, set()).add(u)
    x = {v: 1.0 for v in adj}
    for _ in range(iters):
        s = {v: sum(x[u] for u in adj[v]) for v in adj}
        nrm = math.sqrt(sum(r * r for r in s.values()))
        x = {v: r / nrm for v, r in s.items()}
    return x


def _run(spark, pairs, iters):
    sym = graph.symmetrize(graph.canonical_edges(edges_df(spark, pairs)))
    verts = graph.vertices(sym)
    out = eigenvector_centrality(sym, verts, tol=0, max_iter=iters)
    return {r.vid: r.rank for r in out.collect()}


@pytest.mark.parametrize("pairs", [PATH4, STAR])
def test_trajectory_replay(spark, pairs):
    got = _run(spark, pairs, 4)
    want = _brute_trajectory(pairs, 4)
    assert got == pytest.approx(want, abs=1e-12)
    assert sum(v * v for v in got.values()) == pytest.approx(1.0)


# non-bipartite (triangle + pendant chain) so the power iteration actually
# converges — on a BIPARTITE graph (e.g. a star) it oscillates with period
# 2 by λ₁ = −λ_min symmetry, which is the documented caveat, not a bug
LOLLIPOP = [(0, 1), (1, 2), (2, 0), (2, 3), (3, 4)]


def test_lollipop_converges_to_principal_eigenvector(spark):
    import numpy as np

    got = _run(spark, LOLLIPOP, 80)
    n = 5
    a = np.zeros((n, n))
    for u, v in LOLLIPOP:
        a[u, v] = a[v, u] = 1.0
    vals, vecs = np.linalg.eigh(a)
    principal = np.abs(vecs[:, np.argmax(vals)])
    for v in range(n):
        assert got[v] == pytest.approx(principal[v], abs=1e-6)


def test_convergence_mode_matches_fixed(spark):
    sym = graph.symmetrize(graph.canonical_edges(edges_df(spark, LOLLIPOP)))
    verts = graph.vertices(sym)
    conv = {
        r.vid: r.rank
        for r in eigenvector_centrality(
            sym, verts, tol=1e-9, max_iter=100
        ).collect()
    }
    want = _brute_trajectory(LOLLIPOP, 80)
    assert conv == pytest.approx(want, abs=1e-6)
