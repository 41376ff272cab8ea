"""Katz centrality over the directed link graph. [north-rule family:
standard link-graph analytics beyond the reference's TC focus]

Katz (Psychometrika 18(1), 1953): x(v) = β + α·Σ_{u→v} x(u) — every walk
into v counts, attenuated α^length; converges for α < 1/λ_max(A). The
classic "status" centrality that PageRank normalized into a random walk;
unlike PageRank it needs no out-degree division and no dangling-mass fold,
so its superstep is a SINGLE join pipeline with no broadcast boundary —
the shape that chains well (the measured r3/r4 lesson: PR's dangling
broadcast is what makes chaining catastrophic on dangling graphs; Katz has
no such boundary, so fixed-iteration supersteps chain unconditionally).

Spark shape per superstep: state ⋈ cached out-adjacency → explode →
map-side-combined groupBy-sum → left join back onto the checkpointed
state's vid column (already hash-partitioned — the measured 8.1→3.8 s
rule). Runs on the one superstep loop through ``pagerank._power_run``,
like the PageRank kernels: convergence mode reads the step's |Δx| column;
fixed-iteration mode chains 3 supersteps per checkpoint.

At 10^12 scale: state is one double per vertex, the adjacency is cached
once, and each superstep is one co-located shuffle — identical profile to
PageRank minus the dangling aggregate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from tric_spark.graph import cached_out_adjacency
from tric_spark.operators.pagerank import _power_run, _rank_cols, _with_prev


def katz_centrality(
    directed: DataFrame,
    vertices: DataFrame,
    alpha: float = 0.1,
    beta: float = 1.0,
    tol: float = 1e-6,
    max_iter: int = 100,
) -> DataFrame:
    """(vid, rank) — Katz centrality x = β·Σ_k α^k (Aᵀ)^k·1. Init x₀ = β
    (the first step from the conventional x₀ = 0 folded in), then
    x ← β + α·Aᵀx per iteration. ``tol=0`` runs exactly ``max_iter``
    iterations (the oracle-replayable trajectory); ``tol>0`` stops when the
    per-superstep max |Δ| < tol. Diverges if α ≥ 1/λ_max — caller's contract,
    as in every standard implementation."""
    adj = cached_out_adjacency(directed.select("src", "dst"))
    adj.count()
    init = vertices.select("vid", F.lit(float(beta)).alias("rank"))

    def step(rk: DataFrame) -> DataFrame:
        contrib = (
            adj.join(rk, "vid")
            .select(F.explode("nbrs").alias("vid"), F.col("rank").alias("c"))
            .groupBy("vid")
            .agg(F.sum("c").alias("s"))
        )
        return _with_prev(rk).join(contrib, "vid", "left").select(
            "vid",
            *_rank_cols(
                F.lit(float(beta))
                + F.lit(float(alpha)) * F.coalesce("s", F.lit(0.0))
            ),
        )

    # no broadcast in the step: fixed-iteration supersteps chain 3
    return _power_run(init, step, tol, max_iter, chain=3)
