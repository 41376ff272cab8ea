"""HITS (hubs & authorities) over the directed link graph. [north-rule
family: standard link-graph analytics beyond the reference's TC focus]

Kleinberg's algorithm (JACM 46(5), 1999): auth(v) = Σ_{u→v} hub(u),
hub(u) = Σ_{u→v} auth(v), each vector L2-normalized after its update,
iterated to the principal-eigenvector fixpoint. The classic companion to
PageRank for web link analysis — hubs are good link LISTS, authorities are
good link TARGETS — and, unlike PageRank, query-time per-subgraph in the
original formulation, so the kernel must stay cheap per iteration.

Spark shape per iteration (two half-steps, ONE shuffle each — the same
scale-critical shape as the PageRank superstep):

    auth_raw = state ⋈ out-adjacency on vid → explode → groupBy(dst).sum
    auth     = auth_raw / ||auth_raw||₂   (broadcast 1-row aggregate)
    hub_raw  = auth ⋈ in-adjacency on vid → explode → groupBy(src).sum
    hub      = hub_raw / ||hub_raw||₂

Both adjacency-list frames are cached once; per half-step only the n-row
state moves (to the adjacency's partitioning), never the m-row edge table.
The L2 norms fold back in as broadcast 1-row aggregates — never a driver
collect — exactly like PageRank's dangling-mass fold. Because every
iteration therefore crosses TWO BroadcastExchange boundaries, supersteps
are NOT chained (the measured r4 lesson: exchange reuse does not cross a
broadcast boundary, so chained blocks re-execute inner steps — see
pagerank._chain_policy); one eager localCheckpoint per HALF-step bounds
lineage and stops the twice-referenced mid-iteration auth frame from
re-executing through its broadcast norm. The half-steps keep this
module's own loop rather than the one superstep loop of
``streaming/supersteps.py``, which materializes whole supersteps.

Zero-fill: vertices with no in-links have auth 0, no out-links hub 0 —
the per-half-step left join targets the checkpointed state's vid column
(already hash-partitioned, exchange-free against the aggregate), never a
caller-cached vertex frame (measured r4: 8.1 s vs 3.8 s).

At 10^12 scale: state is 3 doubles per vertex; both half-step shuffles
are co-located with the static adjacency partitioning; AQE skew-join
splits hub partitions (the vertices HITS exists to find are precisely the
skewed ones).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from tric_spark.plans.lineage import checkpoint_cut


def hits(
    directed: DataFrame,
    vertices: DataFrame,
    tol: float = 1e-6,
    max_iter: int = 50,
) -> DataFrame:
    """(vid, hub, auth) after power iteration. ``directed`` is the directed
    link graph (src, dst) — parallel edges should be pre-deduped
    (graph-construction already guarantees this for engine-built graphs);
    ``vertices`` the full vertex set (vid).

    Init hub = auth = 1/√n (unit L2 norm, the conventional start).
    ``tol > 0``: stop when max(|Δhub|, |Δauth|) < tol across an iteration
    (one scalar driver action per iteration, same budget as PageRank's
    convergence mode). ``tol = 0``: run exactly ``max_iter`` iterations —
    the oracle-replayable fixed-iteration mode.

    An isolated graph region that is all-dangling (no edges at all) would
    make a norm 0; guarded with a 1.0 floor so the result stays all-zero
    instead of NaN (matches the oracle's NULLIF→coalesce guard).
    """
    n_b = vertices.count()
    if n_b == 0:
        return vertices.withColumn("hub", F.lit(0.0)).withColumn("auth", F.lit(0.0))
    edges = directed.select("src", "dst")
    out_adj = (
        edges.groupBy(F.col("src").alias("vid"))
        .agg(F.collect_list("dst").alias("nbrs"))
        .cache()
    )
    in_adj = (
        edges.groupBy(F.col("dst").alias("vid"))
        .agg(F.collect_list("src").alias("nbrs"))
        .cache()
    )
    out_adj.count(), in_adj.count()

    init = 1.0 / float(n_b) ** 0.5
    state = vertices.select(
        "vid", F.lit(init).alias("hub"), F.lit(init).alias("auth")
    ).localCheckpoint(eager=True)

    def half_step(st: DataFrame, adj: DataFrame, src_col: str, dst_col: str) -> DataFrame:
        """One normalized update: new ``dst_col`` from summed ``src_col``
        over ``adj``; the other column passes through unchanged."""
        raw = (
            adj.join(st.select("vid", src_col), "vid")
            .select(F.explode("nbrs").alias("vid"), F.col(src_col).alias("c"))
            .groupBy("vid")
            .agg(F.sum("c").alias("_raw"))
        )
        # r6: materialize the raw update BEFORE the norm fold — the norm's
        # BroadcastExchange re-executes its subplan (exchange reuse does
        # not cross a broadcast boundary, the r4 chaining lesson), so the
        # un-cut half-step ran the join+explode+groupBy subtree twice.
        # This checkpoint is also the per-half-step lineage cut; the norm
        # arithmetic is unchanged, so the trajectory is bit-identical.
        upd = (
            st.select("vid", src_col)
            .join(raw, "vid", "left")
            .select(
                "vid", src_col, F.coalesce("_raw", F.lit(0.0)).alias("_raw")
            )
        )
        upd = checkpoint_cut(upd)
        # L2 norm as a broadcast 1-row aggregate — in-plan, no collect;
        # NULLIF-style floor keeps an edgeless graph at 0.0 instead of NaN
        nrm = upd.agg(
            F.coalesce(
                F.nullif(F.sqrt(F.sum(F.col("_raw") * F.col("_raw"))), F.lit(0.0)),
                F.lit(1.0),
            ).alias("_n")
        )
        return upd.crossJoin(F.broadcast(nrm)).select(
            "vid", src_col, (F.col("_raw") / F.col("_n")).alias(dst_col)
        )

    for i in range(max_iter):
        # auth from hubs over in-links: out_adj join on the SOURCE side
        # (explode targets), then hubs from the fresh auths over out-links.
        # The hub half-step references the auth frame TWICE (its raw join
        # and its zero-fill join); both references are cheap because the
        # half-step materialized its raw update internally — only the
        # 1-row norm fold re-evaluates per reference.
        # r6: the half-step checkpoints its raw update internally, so the
        # heavy join+groupBy runs once per half-step; the outer state
        # checkpoints stay — the next half-step references this frame
        # twice, and an un-materialized state re-evaluates its broadcast
        # norm fold per reference (measured slower without them).
        a = half_step(state, out_adj, "hub", "auth").localCheckpoint(
            eager=True
        )
        nxt = (
            half_step(a, in_adj, "auth", "hub")
            .select("vid", "hub", "auth")
            .localCheckpoint(eager=True)
        )
        if tol > 0:
            dl = (
                state.select("vid", F.col("hub").alias("h0"), F.col("auth").alias("a0"))
                .join(nxt, "vid")
                .agg(
                    F.max(
                        F.greatest(
                            F.abs(F.col("hub") - F.col("h0")),
                            F.abs(F.col("auth") - F.col("a0")),
                        )
                    )
                )
                .collect()[0][0]
            )
            state = nxt
            if dl < tol:
                break
        else:
            state = nxt
    return state
