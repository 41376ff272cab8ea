"""HITS and SALSA hubs & authorities over the directed link graph: one
kernel. [north-rule family: standard link-graph analytics beyond the
reference's TC focus]

HITS — Kleinberg (JACM 46(5), 1999): auth(v) = Σ_{u→v} hub(u),
hub(u) = Σ_{u→v} auth(v), each vector L2-normalized after its update,
iterated to the principal-eigenvector fixpoint. The classic companion to
PageRank for web link analysis — hubs are good link LISTS, authorities are
good link TARGETS — and, unlike PageRank, query-time per-subgraph in the
original formulation, so the kernel must stay cheap per iteration.

SALSA — Lempel & Moran (WWW9 / ACM TOIS 19(2), 2001): a random-walk
repair of HITS's TKC (tightly-knit community) effect. Two coupled Markov
chains on the bipartite hub/authority view; each update is HITS's sum
DIVIDED by the summed endpoint's degree and L1-normalized (the states are
probability distributions; dangling bipartite ends leak mass like
PageRank's dangling vertices, and the normalization keeps the iterate a
distribution either way):

    auth(v) = Σ_{u→v} hub(u)  / outdeg(u)
    hub(u)  = Σ_{u→v} auth(v) / indeg(v)

The two differ in three constants only — init 1/√n vs 1/n, contribution
x vs x/deg(owner), norm L2 vs L1 — so both run :func:`_hub_auth`.

Spark shape per iteration (two half-steps, ONE shuffle each — the same
scale-critical shape as the PageRank superstep):

    auth_raw = state ⋈ out-adjacency on vid → explode → groupBy(dst).sum
    auth     = auth_raw / ‖auth_raw‖   (broadcast 1-row aggregate)
    hub_raw  = auth ⋈ in-adjacency on vid → explode → groupBy(src).sum
    hub      = hub_raw / ‖hub_raw‖

Both adjacencies are ``graph.out_adjacency`` frames (the in-adjacency is
the out-adjacency of the reversed edges), cached once; their ``out_deg``
is the owner's degree, SALSA's divisor, so no degree join runs per
superstep. Per half-step only the n-row state moves, never the m-row edge
table. The norms fold back in as broadcast 1-row aggregates — never a
driver collect — exactly like PageRank's dangling-mass fold.

A whole iteration is one superstep of the one superstep loop
(``streaming/supersteps.py``, through ``pagerank._power_run``), so with a
checkpointing ``driver`` each commit, and each resume point, is one whole
iteration. The step emits |Δhub| and |Δauth| as ``_delta``, so
convergence mode reads them from the observation on the superstep's own
checkpoint. Because every iteration crosses TWO BroadcastExchange
boundaries, supersteps are NOT chained (the measured r4 lesson: exchange
reuse does not cross a broadcast boundary, so chained blocks re-execute
inner steps — see the chain rule in pagerank._rank_power), and the step
materializes its mid-iteration auth frame itself: the hub half-step
references it twice, and an un-materialized frame re-evaluates its
broadcast norm fold per reference.

Zero-fill: vertices with no in-links have auth 0, no out-links hub 0 —
the per-half-step left join targets the checkpointed state's vid column
(already hash-partitioned, exchange-free against the aggregate), never a
caller-cached vertex frame (measured r4: 8.1 s vs 3.8 s).

At 10^12 scale: state is 3 doubles per vertex (5 mid-iteration); both
half-step shuffles are co-located with the static adjacency partitioning;
AQE skew-join splits hub partitions (the vertices HITS exists to find are
precisely the skewed ones).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from tric_spark.graph import cached_out_adjacency
from tric_spark.operators.pagerank import _power_run
from tric_spark.plans.lineage import checkpoint_cut
from tric_spark.streaming.supersteps import DELTA, SuperstepDriver


def _hub_auth(
    directed: DataFrame,
    vertices: DataFrame,
    tol: float,
    max_iter: int,
    stochastic: bool,
    driver: SuperstepDriver | None,
) -> DataFrame:
    """(vid, hub, auth): HITS, or SALSA when ``stochastic`` (degree-divided
    contributions, L1 norms, 1/n init)."""
    n_b = vertices.count()
    if n_b == 0:
        return vertices.withColumn("hub", F.lit(0.0)).withColumn("auth", F.lit(0.0))
    edges = directed.select("src", "dst")
    out_adj = cached_out_adjacency(edges)
    in_adj = cached_out_adjacency(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    out_adj.count(), in_adj.count()

    init = 1.0 / float(n_b) if stochastic else 1.0 / float(n_b) ** 0.5
    state = vertices.select("vid", F.lit(init).alias("hub"), F.lit(init).alias("auth"))

    def half_step(
        st: DataFrame, adj: DataFrame, src_col: str, dst_col: str, *keep: str
    ) -> DataFrame:
        """One normalized update: new ``dst_col`` from ``src_col`` summed
        over ``adj``; ``src_col`` and ``keep`` pass through unchanged."""
        c = F.col(src_col)
        if stochastic:
            # SALSA divides by the adjacency owner's degree (auth sums
            # hub/outdeg(u) over u→v; hub sums auth/indeg(v))
            c = c * (F.lit(1.0) / F.col("out_deg"))
        raw = (
            adj.join(st.select("vid", src_col), "vid")
            .select(F.explode("nbrs").alias("vid"), c.alias("c"))
            .groupBy("vid")
            .agg(F.sum("c").alias("_raw"))
        )
        # r6: materialize the raw update BEFORE the norm fold — the norm's
        # BroadcastExchange re-executes its subplan (exchange reuse does
        # not cross a broadcast boundary, the r4 chaining lesson), so the
        # un-cut half-step ran the join+explode+groupBy subtree twice.
        upd = (
            st.select("vid", src_col, *keep)
            .join(raw, "vid", "left")
            .select(
                "vid", src_col, *keep, F.coalesce("_raw", F.lit(0.0)).alias("_raw")
            )
        )
        upd = checkpoint_cut(upd)
        r = F.col("_raw")
        norm = F.sum(r) if stochastic else F.sqrt(F.sum(r * r))
        # broadcast 1-row aggregate — in-plan, no collect; the NULLIF
        # floor keeps an edgeless graph at 0.0 instead of NaN
        nrm = upd.agg(F.coalesce(F.nullif(norm, F.lit(0.0)), F.lit(1.0)).alias("_n"))
        return upd.crossJoin(F.broadcast(nrm)).select(
            "vid", src_col, *keep, (r / F.col("_n")).alias(dst_col)
        )

    def step(st: DataFrame) -> DataFrame:
        # auth from hubs over out-adjacency, then hubs from the FRESH auths
        # over in-adjacency; the previous auth and hub ride along for the
        # convergence column
        a = half_step(st.withColumnRenamed("auth", "_a0"), out_adj, "hub", "auth", "_a0")
        # referenced twice by the hub half-step: materialized so its norm
        # fold is not re-evaluated per reference (measured slower without)
        a = a.localCheckpoint(eager=True)
        h = half_step(a.withColumnRenamed("hub", "_h0"), in_adj, "auth", "hub", "_h0", "_a0")
        return h.select(
            "vid",
            "hub",
            "auth",
            F.greatest(
                F.abs(F.col("hub") - F.col("_h0")), F.abs(F.col("auth") - F.col("_a0"))
            ).alias(DELTA),
        )

    return _power_run(state, step, tol, max_iter, chain=1, driver=driver)


def hits(
    directed: DataFrame,
    vertices: DataFrame,
    tol: float = 1e-6,
    max_iter: int = 50,
    driver: SuperstepDriver | None = None,
) -> DataFrame:
    """(vid, hub, auth) after power iteration. ``directed`` is the directed
    link graph (src, dst) — parallel edges should be pre-deduped
    (graph-construction already guarantees this for engine-built graphs);
    ``vertices`` the full vertex set (vid).

    Init hub = auth = 1/√n (unit L2 norm, the conventional start).
    ``tol > 0``: stop when max(|Δhub|, |Δauth|) < tol across an iteration.
    ``tol = 0``: run exactly ``max_iter`` iterations — the
    oracle-replayable fixed-iteration mode.

    ``driver``: a checkpointing superstep driver for resumable runs (one
    commit per whole iteration); without one the same loop runs without
    commits.

    An isolated graph region that is all-dangling (no edges at all) would
    make a norm 0; guarded with a 1.0 floor so the result stays all-zero
    instead of NaN (matches the oracle's NULLIF→coalesce guard).
    """
    return _hub_auth(directed, vertices, tol, max_iter, stochastic=False, driver=driver)


def salsa(
    directed: DataFrame,
    vertices: DataFrame,
    tol: float = 1e-6,
    max_iter: int = 50,
    driver: SuperstepDriver | None = None,
) -> DataFrame:
    """(vid, hub, auth) after SALSA power iteration. ``directed`` is the
    deduped directed link graph (src, dst); ``vertices`` the full vertex
    set (vid).

    Init hub = auth = 1/n (unit L1 mass — the states are distributions).
    ``tol > 0``: stop when max(|Δhub|, |Δauth|) < tol across an iteration.
    ``tol = 0``: run exactly ``max_iter`` iterations — the
    oracle-replayable mode. ``driver`` as in :func:`hits`.

    Vertices with no in-links have auth 0; with no out-links hub 0. An
    edgeless graph stays all-zero via the same nullif→1.0 norm floor as
    HITS (no NaNs).
    """
    return _hub_auth(directed, vertices, tol, max_iter, stochastic=True, driver=driver)
