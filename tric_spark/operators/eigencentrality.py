"""Eigenvector centrality via distributed power iteration. [north-rule
family: completes the classic centrality set next to PageRank / Katz /
HITS / SALSA / harmonic / betweenness]

Bonacich (J. Math. Sociol. 2(1), 1972): x ∝ A·x, the principal
eigenvector of the (symmetric) adjacency matrix. Power iteration
x ← A·x / ‖A·x‖₂ converges to it at rate λ₂/λ₁ from any start with a
nonzero component along the principal direction (the all-ones start has
one on a connected non-bipartite graph; per-component convergence
otherwise — standard caveats, caller's contract as with Katz's α bound).

Spark shape per superstep: state ⋈ cached adjacency → explode →
map-side-combined groupBy-sum → left join back onto the checkpointed
state's vid column, then an L2-norm 1-row aggregate broadcast-divided
back in. That norm is a broadcast boundary inside the step, so supersteps
must NOT chain (the measured dangling-PageRank lesson — a chained block
recomputes the inner plan once per broadcast level); this kernel runs the
one superstep loop through ``pagerank._power_run`` unchained, and its
convergence column is |rank − prev| after normalisation.

At 10^12 vertices: one double per vertex of state, adjacency cached once,
one co-located shuffle + one scalar aggregate per superstep — PageRank's
profile with the dangling fold swapped for the norm fold.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from tric_spark.graph import cached_out_adjacency
from tric_spark.operators.pagerank import _power_run, _rank_cols, _with_prev


def eigenvector_centrality(
    sym_edges: DataFrame,
    vertices: DataFrame,
    tol: float = 1e-6,
    max_iter: int = 100,
) -> DataFrame:
    """(vid, rank) with ‖rank‖₂ = 1. ``sym_edges`` is the symmetrized
    undirected edge list (both directions present). ``tol=0`` runs exactly
    ``max_iter`` normalized iterations — the oracle-replayable trajectory.
    """
    adj = cached_out_adjacency(sym_edges.select("src", "dst"))
    adj.count()
    init = vertices.select("vid", F.lit(1.0).alias("rank"))

    def step(rk: DataFrame) -> DataFrame:
        contrib = (
            adj.join(rk, "vid")
            .select(F.explode("nbrs").alias("vid"), F.col("rank").alias("c"))
            .groupBy("vid")
            .agg(F.sum("c").alias("s"))
        )
        s = _with_prev(rk).join(contrib, "vid", "left").select(
            "vid", "_prev", F.coalesce("s", F.lit(0.0)).alias("r")
        )
        nrm = s.agg(F.sqrt(F.sum(F.col("r") * F.col("r"))).alias("nrm"))
        return s.crossJoin(F.broadcast(nrm)).select(
            "vid", *_rank_cols(F.col("r") / F.col("nrm"))
        )

    # unchained: the norm broadcast inside the step would make a chained
    # block re-execute the inner supersteps per level (measured on the
    # sibling dangling-PageRank fold, BENCH.md r4)
    return _power_run(init, step, tol, max_iter, chain=1)
