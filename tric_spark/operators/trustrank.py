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

Spark shape: TrustRank is ``pagerank._rank_power`` — the one PageRank
power iteration — with the weighted share of ``weighted_pagerank`` and the
seed teleport of ``personalized_pagerank``; the builder carries the
measured rank-step rules (exchange-free output join on the checkpointed
state, the cut mass aggregate under the broadcast dangling fold, chaining
only on dangling-free graphs). At 10^12 pages the host graph is ~10^8
rows; the rank⋈adjacency join is shuffle-on-vid co-located with the static
adjacency partitioning and AQE splits hub partitions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from tric_spark.operators.pagerank import (
    _rank_power,
    _seed_vector,
    _weighted_adjacency,
    _weighted_share,
)


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
    vertices; an empty seed set raises ``ValueError``."""
    e = _seed_vector(vertices, seeds)
    w_adj = _weighted_adjacency(directed_w)
    return _rank_power(w_adj, _weighted_share, vertices, e, d, tol, max_iter)


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
