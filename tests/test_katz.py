"""Katz centrality vs a dense numpy trajectory replay (fixed iterations —
both sides walk the SAME trajectory), goldens, convergence mode."""

import numpy as np
import pytest

from conftest import edges_df
from fixtures import er_graph

from tric_spark.operators.katz import katz_centrality


def _katz_np(directed, n, alpha, beta, iters):
    A = np.zeros((n, n))
    for u, v in directed:
        A[u, v] = 1.0
    x = np.full(n, beta)
    for _ in range(iters):
        x = beta + alpha * (A.T @ x)
    return x


def _run(spark, directed, n, **kw):
    edges = edges_df(spark, directed)
    verts = spark.range(n).withColumnRenamed("id", "vid")
    rows = katz_centrality(edges, verts, **kw).collect()
    x = np.zeros(n)
    for r in rows:
        x[r.vid] = r.rank
    return x


def test_katz_vs_numpy_trajectory(spark):
    pairs = er_graph(n=50, p_inv=8)
    directed = [(u, v) for u, v in pairs] + [(v, u) for u, v in pairs if (u + v) % 3]
    x_o = _katz_np(directed, 50, 0.05, 1.0, 4)
    x = _run(spark, directed, 50, alpha=0.05, beta=1.0, tol=0.0, max_iter=4)
    assert np.allclose(x, x_o, atol=1e-12)


def test_katz_convergence_matches_linear_solve(spark):
    """tol-mode fixpoint equals the closed form x = β(I − αAᵀ)⁻¹·1."""
    pairs = er_graph(n=30, p_inv=6, seed=5)
    directed = [(u, v) for u, v in pairs]
    n = 30
    A = np.zeros((n, n))
    for u, v in directed:
        A[u, v] = 1.0
    alpha = 0.9 / max(1.0, np.max(np.abs(np.linalg.eigvals(A))))
    closed = np.linalg.solve(np.eye(n) - alpha * A.T, np.full(n, 1.0))
    x = _run(
        spark, directed, n, alpha=float(alpha), beta=1.0, tol=1e-10,
        max_iter=500,
    )
    assert np.allclose(x, closed, atol=1e-6)


def test_katz_path_golden(spark):
    # path 0→1→2, α=0.5, β=1: x converges in 3 fixed iterations because
    # walks longer than 2 don't exist: x0 = [1, 1.5, 1.75]
    x = _run(spark, [(0, 1), (1, 2)], 3, alpha=0.5, beta=1.0, tol=0.0, max_iter=3)
    assert x == pytest.approx([1.0, 1.5, 1.75])


def test_katz_no_inlinks_is_beta(spark):
    pairs = er_graph(n=20, p_inv=4, seed=9)
    directed = [(u, v) for u, v in pairs]
    targets = {v for _, v in directed}
    x = _run(spark, directed, 20, alpha=0.1, beta=2.0, tol=0.0, max_iter=5)
    for vid in range(20):
        if vid not in targets:
            assert x[vid] == pytest.approx(2.0)


def test_katz_empty_graph(spark):
    edges = edges_df(spark, []).limit(0)
    verts = spark.range(4).withColumnRenamed("id", "vid")
    rows = katz_centrality(edges, verts, tol=0.0, max_iter=3).collect()
    assert sorted(r.rank for r in rows) == [1.0, 1.0, 1.0, 1.0]
