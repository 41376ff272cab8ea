"""Power-iteration PageRank over the edge table. [north-rule]

Not in the reference (tric counts triangles only); semantics fixed by
SURVEY §2.5: damping d=0.85, uniform 1/N init, dangling mass redistributed
uniformly every superstep, convergence when max|r − r'| < tol. Verified
against a dense numpy oracle with allclose(atol=1e-6).

Spark shape per superstep (the scale-critical part):
    mass = ranks ⋈ adjacency on vid → explode → groupBy(target).sum
(ONE shuffle). The adjacency is cached once; per superstep only the n-row
rank state moves. The vertex frame for the final left join is
``rk.select("vid")`` — NOT the caller's cached vertex table: the
checkpointed rank state is already hash-partitioned on vid, so the join
plans exchange-free, whereas joining the cached frame re-sorts its scan at
every chain level (measured r4 A/B: 8.1 s vs 3.8 s for 5 supersteps at
sf0.1). Dangling vertices explode to a NULL target carrying their whole
rank, so the SAME groupBy that builds per-vertex in-mass also yields the
dangling mass as its NULL group (r3 ADVICE: collapses the old anti-join
rescan; both consumers of `mass` sit above one reused exchange). The
dangling mass re-enters the plan as a broadcast 1-row aggregate — never a
per-superstep driver collect. Every kernel here runs on the one superstep
loop (``streaming/supersteps.py``): convergence mode reads max|Δrank| from
the ``_delta`` column each step emits, observed on the superstep's own
checkpoint; fixed-iteration mode chains 3 supersteps per checkpoint, except
on dangling graphs (see ``_chain_policy``: exchange reuse does not cross
the BroadcastExchange boundary, so chained dangling blocks re-execute
inner steps — measured 42 s at chain=6 vs 5.8 s per-step). At 10^12 scale
the ranks⋈adjacency join is shuffle-on-vid co-located with the static
adjacency partitioning, and AQE skew-join splits hub partitions.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from tric_spark.plans.lineage import checkpoint_cut
from tric_spark.streaming.supersteps import DELTA, SuperstepDriver


def _out_degrees(directed: DataFrame) -> DataFrame:
    return directed.groupBy(F.col("src").alias("vid")).agg(
        F.count("*").alias("out_deg")
    )


def _chain_policy(has_dangling: bool) -> int:
    """Supersteps per checkpoint in fixed-iteration mode. Chaining is gated
    OFF on dangling graphs — measured, not assumed (r4 A/B, 0.7M edges /
    10% dangling / 6 supersteps, best-of-2): chain=1 → 5.84 s, chain=3 →
    7.40 s, chain=6 → 42–85 s. The dangling step is single-reference, but
    its broadcast 1-row dangling aggregate sits on a BroadcastExchange whose
    subplan re-executes the entire inner chain per level — Spark's exchange
    reuse does not deduplicate across the broadcast boundary, so a chained
    block recomputes ~2^chain inner steps. One checkpoint barrier per
    superstep is the fast path on dangling graphs; dangling-free graphs
    chain 3 (measured 7.6→4.1 s at sf0.1)."""
    return 1 if has_dangling else 3


def _power_run(
    init: DataFrame,
    step: Callable[[DataFrame], DataFrame],
    tol: float,
    max_iter: int,
    chain: int,
    driver: SuperstepDriver | None = None,
) -> DataFrame:
    """Power iteration on the superstep loop: until max|Δrank| < tol, or
    exactly ``max_iter`` supersteps (``chain`` per checkpoint) when
    ``tol <= 0``. ``step`` emits the state plus ``_delta`` (see
    :func:`_rank_cols`)."""
    drv = driver or SuperstepDriver(init.sparkSession)
    converged = (lambda dl: dl < tol) if tol > 0 else None
    return drv.run(init, step, max_iter, converged, chain)


def _with_prev(rk: DataFrame, *cols: str) -> DataFrame:
    """The output-join side of a step: ``vid``, ``cols`` and the previous
    rank as ``_prev``, which :func:`_rank_cols` reads."""
    return rk.select("vid", *cols, F.col("rank").alias("_prev"))


def _rank_cols(rank) -> list:
    """The new ``rank`` and the loop's convergence column |rank − prev|."""
    return [rank.alias("rank"), F.abs(rank - F.col("_prev")).alias(DELTA)]


def pagerank(
    directed: DataFrame,
    vertices: DataFrame,
    d: float = 0.85,
    tol: float = 1e-6,
    max_iter: int = 100,
    driver: SuperstepDriver | None = None,
    init_ranks: DataFrame | None = None,
) -> DataFrame:
    """(vid, rank) at convergence. ``directed`` is the directed link graph
    (src, dst); ``vertices`` the full vertex set (vid) — needed because
    pages with no in-links still hold rank.

    ``driver``: a checkpointing superstep driver for resumable runs;
    without one the same loop runs without commits. ``tol <= 0`` runs
    exactly ``max_iter`` supersteps.

    ``init_ranks``: optional (vid, rank) warm start — the incremental-
    maintenance path (the cc_incremental sibling): seed with yesterday's
    converged ranks and today's slightly-changed graph re-converges in a
    handful of supersteps instead of tens (the 0.85-contraction shrinks
    the warm start's small residual, not a uniform init's large one).
    Vertices absent from ``init_ranks`` (newly added pages) start at the
    uniform 1/n; extra vertices in it are ignored.
    """
    from tric_spark.graph import out_adjacency

    n_b = vertices.count()
    if n_b == 0:
        return vertices.withColumn("rank", F.lit(0.0))
    n = float(n_b)
    edges = directed.select("src", "dst")
    # adjacency-list form, computed once and cached: per superstep only the
    # n-row rank state shuffles (to the adjacency's partitioning), never the
    # m-row edge table; exploded contributions partial-aggregate map-side
    adj = out_adjacency(edges).cache()

    # dangling vertices detected ONCE — symmetric link graphs have none, and
    # the dangling branch of the step plan is skipped entirely for them
    has_dangling = adj.count() < n_b

    if init_ranks is not None:
        ranks = (
            vertices.join(init_ranks.select("vid", "rank"), "vid", "left")
            .select(
                "vid", F.coalesce("rank", F.lit(1.0 / n)).alias("rank")
            )
        )
    else:
        ranks = vertices.withColumn("rank", F.lit(1.0 / n))

    def emit(
        rk: DataFrame, mass: DataFrame, base, dang: DataFrame | None = None
    ) -> DataFrame:
        # the output join runs from rk.select("vid", ...), NOT the cached
        # verts frame: the checkpointed rk is already hash-partitioned on
        # vid, so the left join plans exchange-free against the mass
        # aggregate; joining the cached verts instead re-sorts the cache
        # scan every chain level (measured r4 A/B: 8.1 s vs 3.8 s for
        # pagerank5 at sf0.1). The previous rank rides through the same
        # projection for the loop's |rank − prev| convergence column.
        rank = base + F.lit(d) * F.coalesce(F.col("in_mass"), F.lit(0.0))
        new = _with_prev(rk).join(mass, "vid", "left")
        if dang is not None:
            new = new.crossJoin(F.broadcast(dang))
        return new.select("vid", *_rank_cols(rank))

    def step(rk: DataFrame) -> DataFrame:
        if not has_dangling:
            contribs = (
                adj.join(rk, "vid")
                .select(
                    F.explode("nbrs").alias("vid"),
                    (F.col("rank") / F.col("out_deg")).alias("c"),
                )
                .groupBy("vid")
                .agg(F.sum("c").alias("in_mass"))
            )
            return emit(rk, contribs, F.lit((1.0 - d) / n))
        # dangling path: rk joined ONCE against the cached adjacency;
        # explode_outer turns a dangling vertex (nbrs NULL) into one row
        # with a NULL target carrying its whole rank, so the single groupBy
        # below produces per-vertex in-mass AND (its NULL group) the total
        # dangling mass. Both consumers sit above the same exchange —
        # exchange reuse computes the aggregate once per action — and the
        # dangling mass is folded back in as a broadcast 1-row aggregate,
        # NOT a driver collect: the step stays fully lazy and chains.
        # r6: materialized with checkpoint_cut — the aggregate feeds the
        # main join AND the dangling fold, and the fold's BroadcastExchange
        # re-executes its subplan (reuse does not cross a broadcast
        # boundary), so the un-cut superstep ran the explode+groupBy twice;
        # the dangling branch always runs unchained, so this adds one
        # cheap action and removes a full m-row re-aggregation per
        # superstep. It must be the stats-cutting variant: the step
        # references rk twice (mass build + output join), so a plain
        # localCheckpoint's preserved origin stats SQUARE per superstep —
        # measured: host_pagerank's convergence run threw "BigInteger
        # would overflow supported range" (the plans/lineage.py failure
        # mode) with plain localCheckpoint here.
        mass = (
            rk.join(adj, "vid", "left")
            .select(
                F.explode_outer("nbrs").alias("tvid"),
                F.when(F.col("out_deg").isNull(), F.col("rank"))
                .otherwise(F.col("rank") / F.col("out_deg"))
                .alias("c"),
            )
            .groupBy("tvid")
            .agg(F.sum("c").alias("in_mass"))
        )
        mass = checkpoint_cut(mass)
        dang = mass.filter(F.col("tvid").isNull()).agg(
            F.coalesce(F.sum("in_mass"), F.lit(0.0)).alias("_dm")
        )
        # rk is checkpointed every superstep here (the chain gate), so the
        # same exchange-free output join applies as in the dangling-free
        # branch
        base = F.lit((1.0 - d) / n) + F.lit(d) * F.col("_dm") / F.lit(n)
        return emit(rk, mass.withColumnRenamed("tvid", "vid"), base, dang)

    return _power_run(ranks, step, tol, max_iter, _chain_policy(has_dangling), driver)


def weighted_pagerank(
    directed_w: DataFrame,
    vertices: DataFrame,
    d: float = 0.85,
    tol: float = 1e-6,
    max_iter: int = 100,
) -> DataFrame:
    """(vid, rank) — PageRank where u distributes rank ∝ edge weight:
    contribution to v is r(u)·w(u,v)/Σ_x w(u,x). Input: (src, dst, weight)
    directed edges. Same single-reference superstep shape as the unweighted
    kernel — the weighted adjacency (vid, [(dst, weight)], Σw) is cached
    once; dangling vertices explode to a NULL target via explode_outer, so
    the one groupBy yields both in-mass and dangling mass."""
    w_adj = (
        directed_w.groupBy(F.col("src").alias("vid"))
        .agg(
            F.collect_list(F.struct("dst", "weight")).alias("nbrs"),
            F.sum("weight").alias("w_total"),
        )
        .cache()
    )
    n_b = vertices.count()
    if n_b == 0:
        return vertices.withColumn("rank", F.lit(0.0))
    n = float(n_b)
    has_dangling = w_adj.count() < n_b
    ranks = vertices.withColumn("rank", F.lit(1.0 / n))

    def step(rk: DataFrame) -> DataFrame:
        if not has_dangling:
            contribs = (
                w_adj.join(rk, "vid")
                .select(
                    F.explode("nbrs").alias("e"),
                    (F.col("rank") / F.col("w_total")).alias("r_per_w"),
                )
                .select(
                    F.col("e.dst").alias("vid"),
                    (F.col("e.weight") * F.col("r_per_w")).alias("c"),
                )
                .groupBy("vid")
                .agg(F.sum("c").alias("in_mass"))
            )
            # rk.select("vid"): exchange-free against the contribs aggregate
            # (same measured reason as the unweighted kernel)
            return _with_prev(rk).join(contribs, "vid", "left").select(
                "vid",
                *_rank_cols(
                    F.lit((1.0 - d) / n)
                    + F.lit(d) * F.coalesce("in_mass", F.lit(0.0))
                ),
            )
        # r6: materialized for the same broadcast-fold recompute reason as
        # the unweighted dangling branch (unchained, one cheap action)
        mass = (
            rk.join(w_adj, "vid", "left")
            .select(
                F.explode_outer("nbrs").alias("e"),
                "rank",
                "w_total",
            )
            .select(
                F.col("e.dst").alias("tvid"),
                F.when(F.col("e").isNull(), F.col("rank"))
                .otherwise(F.col("e.weight") * F.col("rank") / F.col("w_total"))
                .alias("c"),
            )
            .groupBy("tvid")
            .agg(F.sum("c").alias("in_mass"))
        )
        mass = checkpoint_cut(mass)
        dang = mass.filter(F.col("tvid").isNull()).agg(
            F.coalesce(F.sum("in_mass"), F.lit(0.0)).alias("_dm")
        )
        new = _with_prev(rk).join(
            mass.withColumnRenamed("tvid", "vid"), "vid", "left"
        ).crossJoin(F.broadcast(dang))
        base = F.lit((1.0 - d) / n) + F.lit(d) * F.col("_dm") / F.lit(n)
        return new.select(
            "vid", *_rank_cols(base + F.lit(d) * F.coalesce("in_mass", F.lit(0.0)))
        )

    return _power_run(ranks, step, tol, max_iter, _chain_policy(has_dangling))


def personalized_pagerank(
    directed: DataFrame,
    vertices: DataFrame,
    sources: DataFrame,
    d: float = 0.85,
    tol: float = 1e-6,
    max_iter: int = 100,
) -> DataFrame:
    """(vid, rank) — PageRank with teleportation restricted to ``sources``
    (uniform over the seed set). Dangling mass also teleports to the seeds
    (same single-reference NULL-target step as :func:`pagerank`). The
    standard seed-relevance ranking for link graphs.

    The superstep state carries the teleport column: schema (vid, rank, e),
    so the per-step output join targets ``rk.select("vid", "e")`` — the
    checkpointed state, already hash-partitioned on vid — instead of the
    cached ``vert_e`` frame (VERDICT r4 #1: joining a cached frame re-sorts
    its scan every chain level, the measured 8.1 s vs 3.8 s the sibling
    kernels removed in r4; projecting an extra column preserves the state's
    output partitioning, so the fix costs nothing)."""
    from tric_spark.graph import out_adjacency

    n_src = sources.count()
    if n_src == 0:
        raise ValueError("personalized_pagerank needs a non-empty source set")
    edges = directed.select("src", "dst")
    adj = out_adjacency(edges).cache()
    has_dangling = adj.count() < vertices.count()

    # teleport column: 1/|S| on seeds, 0 elsewhere — joined once, then
    # carried inside the checkpointed state for the rest of the run
    vert_e = vertices.join(
        sources.select("vid").distinct().withColumn("e", F.lit(1.0 / n_src)), "vid", "left"
    ).select("vid", F.coalesce("e", F.lit(0.0)).alias("e"))

    ranks = vert_e.select("vid", F.col("e").alias("rank"), "e")

    def step(rk: DataFrame) -> DataFrame:
        if not has_dangling:
            contribs = (
                adj.join(rk.select("vid", "rank"), "vid")
                .select(
                    F.explode("nbrs").alias("vid"),
                    (F.col("rank") / F.col("out_deg")).alias("c"),
                )
                .groupBy("vid")
                .agg(F.sum("c").alias("in_mass"))
            )
            # rk.select("vid", "e"): exchange-free against the contribs
            # aggregate (same measured reason as the sibling kernels)
            return _with_prev(rk, "e").join(contribs, "vid", "left").select(
                "vid",
                *_rank_cols(
                    F.lit(1.0 - d) * F.col("e")
                    + F.lit(d) * F.coalesce(F.col("in_mass"), F.lit(0.0))
                ),
                "e",
            )
        # r6: materialized for the same broadcast-fold recompute reason as
        # the plain kernel's dangling branch (unchained, one cheap action)
        mass = (
            rk.join(adj, "vid", "left")
            .select(
                F.explode_outer("nbrs").alias("tvid"),
                F.when(F.col("out_deg").isNull(), F.col("rank"))
                .otherwise(F.col("rank") / F.col("out_deg"))
                .alias("c"),
            )
            .groupBy("tvid")
            .agg(F.sum("c").alias("in_mass"))
        )
        mass = checkpoint_cut(mass)
        dang = mass.filter(F.col("tvid").isNull()).agg(
            F.coalesce(F.sum("in_mass"), F.lit(0.0)).alias("_dm")
        )
        # dangling mass teleports to the seeds (∝ e), in-plan broadcast
        new = _with_prev(rk, "e").join(
            mass.withColumnRenamed("tvid", "vid"), "vid", "left"
        ).crossJoin(F.broadcast(dang))
        return new.select(
            "vid",
            *_rank_cols(
                F.lit(1.0 - d) * F.col("e")
                + F.lit(d)
                * (
                    F.coalesce(F.col("in_mass"), F.lit(0.0))
                    + F.col("_dm") * F.col("e")
                )
            ),
            "e",
        )

    return _power_run(ranks, step, tol, max_iter, _chain_policy(has_dangling)).select(
        "vid", "rank"
    )
