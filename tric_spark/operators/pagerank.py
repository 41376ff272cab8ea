"""Power-iteration PageRank over the edge table. [north-rule]

Not in the reference (tric counts triangles only); semantics fixed by
SURVEY §2.5: damping d=0.85, uniform 1/N init, dangling mass redistributed
uniformly every superstep, convergence when max|r − r'| < tol. Verified
against a dense numpy oracle with allclose(atol=1e-6).

One builder, :func:`_rank_power`, runs the whole PageRank family:
``rank = (1−d)·e + d·(in_mass + dangling_mass·e)``. It takes two
parameters: the per-edge **share** (``rank/out_deg`` over
``graph.out_adjacency``, or ``weight·rank/w_total`` over
:func:`_weighted_adjacency`) and the **teleport** ``e`` (uniform 1/n as a
literal, or a seed vector from :func:`_seed_vector` carried as a state
column). :func:`pagerank`, :func:`weighted_pagerank`,
:func:`personalized_pagerank` and ``trustrank.trustrank`` are adapters
over it, and the measured rank-step rules live on its one step.

Spark shape per superstep (the scale-critical part):
    mass = ranks ⋈ adjacency on vid → explode → groupBy(target).sum
(ONE shuffle). The adjacency is cached once; per superstep only the n-row
rank state moves. Dangling vertices explode to a NULL target carrying
their whole rank, so the SAME groupBy that builds per-vertex in-mass also
yields the dangling mass as its NULL group, which re-enters the plan as a
broadcast 1-row aggregate — never a per-superstep driver collect. Every
kernel here runs on the one superstep loop (``streaming/supersteps.py``):
convergence mode reads max|Δrank| from the ``_delta`` column each step
emits, observed on the superstep's own checkpoint; fixed-iteration mode
chains 3 supersteps per checkpoint on dangling-free graphs and checkpoints
every superstep on dangling ones. At 10^12 scale the ranks⋈adjacency join
is shuffle-on-vid co-located with the static adjacency partitioning, and
AQE skew-join splits hub partitions.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from tric_spark.graph import cache_once, cached_out_adjacency
from tric_spark.plans.lineage import checkpoint_cut
from tric_spark.streaming.supersteps import DELTA, SuperstepDriver


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


def _unit_share(x: Column) -> tuple[Column, Column]:
    """Target and contribution of one exploded ``out_adjacency`` entry."""
    return x, F.col("rank") / F.col("out_deg")


def _weighted_share(x: Column) -> tuple[Column, Column]:
    """Target and contribution of one exploded :func:`_weighted_adjacency`
    entry: u sends v the share w(u,v)/Σ_x w(u,x) of its rank."""
    return x["dst"], x["weight"] * F.col("rank") / F.col("w_total")


def _weighted_adjacency(directed_w: DataFrame) -> DataFrame:
    """(vid, nbrs [(dst, weight)], w_total) of (src, dst, weight) edges,
    cached: the adjacency :func:`_weighted_share` reads."""
    return cache_once(
        directed_w.groupBy(F.col("src").alias("vid")).agg(
            F.collect_list(F.struct("dst", "weight")).alias("nbrs"),
            F.sum("weight").alias("w_total"),
        )
    )


def _seed_vector(vertices: DataFrame, seeds: DataFrame) -> DataFrame:
    """(vid, e): the teleport vector uniform over the distinct ``seeds`` —
    1/|S| on a seed, 0 elsewhere. Raises ``ValueError`` on an empty seed
    set."""
    seeds = seeds.select("vid").distinct()
    n_src = seeds.count()
    if n_src == 0:
        raise ValueError("personalized PageRank needs a non-empty seed set")
    return vertices.join(
        seeds.withColumn("e", F.lit(1.0 / n_src)), "vid", "left"
    ).select("vid", F.coalesce("e", F.lit(0.0)).alias("e"))


def _rank_power(
    adj: DataFrame,
    share: Callable[[Column], tuple[Column, Column]],
    vertices: DataFrame,
    teleport: DataFrame | None,
    d: float,
    tol: float,
    max_iter: int,
    driver: SuperstepDriver | None = None,
    init_ranks: DataFrame | None = None,
) -> DataFrame:
    """(vid, rank): the power iteration every PageRank kernel runs.

    ``adj``: a cached adjacency (vid, nbrs, ...) whose exploded entries
    ``share`` maps to (target, contribution). ``teleport``: None for the
    uniform 1/n, else a (vid, e) seed vector, which is also the initial
    rank and rides in the state as column ``e``. ``init_ranks``: an
    optional (vid, rank) warm start for the uniform teleport; vertices
    missing from it start at 1/n."""
    n_b = vertices.count()
    if n_b == 0:
        return vertices.withColumn("rank", F.lit(0.0))
    n = float(n_b)
    # dangling vertices detected ONCE — symmetric link graphs have none, and
    # the dangling branch of the step plan is skipped entirely for them
    has_dangling = adj.count() < n_b
    if teleport is not None:
        carry = ("e",)
        init = teleport.select("vid", F.col("e").alias("rank"), "e")
        tele = lambda c: c * F.col("e")
    else:
        carry = ()
        if init_ranks is not None:
            init = vertices.join(init_ranks.select("vid", "rank"), "vid", "left").select(
                "vid", F.coalesce("rank", F.lit(1.0 / n)).alias("rank")
            )
        else:
            init = vertices.withColumn("rank", F.lit(1.0 / n))
        tele = lambda c: c / F.lit(n)

    def step(rk: DataFrame) -> DataFrame:
        if not has_dangling:
            x = adj.join(rk.select("vid", "rank"), "vid")
            x = x.select("*", F.explode("nbrs").alias("_x"))
            tgt, c = share(F.col("_x"))
        else:
            # explode_outer turns a dangling vertex (nbrs NULL) into one row
            # with a NULL target carrying its whole rank, so the one groupBy
            # yields per-vertex in-mass AND (its NULL group) the dangling mass
            x = rk.join(adj, "vid", "left")
            x = x.select("*", F.explode_outer("nbrs").alias("_x"))
            tgt, c = share(F.col("_x"))
            c = F.when(F.col("_x").isNull(), F.col("rank")).otherwise(c)
        mass = x.groupBy(tgt.alias("vid")).agg(F.sum(c).alias("in_mass"))
        base = tele(F.lit(1.0 - d))
        if has_dangling:
            # r6: the mass aggregate feeds the output join AND the dangling
            # fold, and the fold's BroadcastExchange re-executes its subplan
            # (reuse does not cross a broadcast boundary), so the un-cut
            # superstep ran the explode+groupBy twice. The dangling branch
            # always runs unchained, so this adds one cheap action and
            # removes a full m-row re-aggregation per superstep. It must be
            # the stats-cutting variant: the step references rk twice, so a
            # plain localCheckpoint's preserved origin stats SQUARE per
            # superstep — measured: host_pagerank's convergence run threw
            # "BigInteger would overflow supported range" with it.
            mass = checkpoint_cut(mass)
            dang = mass.filter(F.col("vid").isNull()).agg(
                F.coalesce(F.sum("in_mass"), F.lit(0.0)).alias("_dm")
            )
            base = base + tele(F.lit(d) * F.col("_dm"))
        # the output join runs from the checkpointed state rk, NOT the
        # caller's cached vertex frame: rk is already hash-partitioned on
        # vid, so the left join plans exchange-free against the mass
        # aggregate, whereas joining a cached frame re-sorts its scan at
        # every chain level (measured r4 A/B: 8.1 s vs 3.8 s for 5
        # supersteps at sf0.1). The previous rank rides through the same
        # projection for the loop's |rank − prev| convergence column, and
        # so does a seed teleport's e.
        out = _with_prev(rk, *carry).join(mass, "vid", "left")
        if has_dangling:
            out = out.crossJoin(F.broadcast(dang))
        rank = base + F.lit(d) * F.coalesce(F.col("in_mass"), F.lit(0.0))
        return out.select("vid", *_rank_cols(rank), *carry)

    # supersteps per checkpoint in fixed-iteration mode, measured (r4 A/B,
    # 0.7M edges / 10% dangling / 6 supersteps, best-of-2): on dangling
    # graphs chain=1 → 5.84 s, chain=3 → 7.40 s, chain=6 → 42–85 s, because
    # the broadcast dangling fold's subplan re-executes the entire inner
    # chain per level (~2^chain inner steps); dangling-free graphs chain 3
    # (7.6 → 4.1 s at sf0.1)
    chain = 1 if has_dangling else 3
    return _power_run(init, step, tol, max_iter, chain, driver).select("vid", "rank")


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
    # the plan run_analytics' LinkGraph.adj caches, so the cache serves it
    adj = cached_out_adjacency(directed.select("src", "dst"))
    return _rank_power(
        adj, _unit_share, vertices, None, d, tol, max_iter, driver, init_ranks
    )


def weighted_pagerank(
    directed_w: DataFrame,
    vertices: DataFrame,
    d: float = 0.85,
    tol: float = 1e-6,
    max_iter: int = 100,
) -> DataFrame:
    """(vid, rank) — PageRank where u distributes rank ∝ edge weight:
    contribution to v is r(u)·w(u,v)/Σ_x w(u,x). Input: (src, dst, weight)
    directed edges."""
    w_adj = _weighted_adjacency(directed_w)
    return _rank_power(w_adj, _weighted_share, vertices, None, d, tol, max_iter)


def personalized_pagerank(
    directed: DataFrame,
    vertices: DataFrame,
    sources: DataFrame,
    d: float = 0.85,
    tol: float = 1e-6,
    max_iter: int = 100,
) -> DataFrame:
    """(vid, rank) — PageRank with teleportation restricted to ``sources``
    (uniform over the seed set). Dangling mass also teleports to the seeds.
    The standard seed-relevance ranking for link graphs."""
    e = _seed_vector(vertices, sources)
    adj = cached_out_adjacency(directed.select("src", "dst"))
    return _rank_power(adj, _unit_share, vertices, e, d, tol, max_iter)
