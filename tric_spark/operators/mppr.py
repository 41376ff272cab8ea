"""Batch personalized PageRank — MANY seed sets in one keyed superstep.
[north-rule family: seed-relevance ranking at serving scale]

The production shape of PPR (topic-sensitive PageRank, Haveliwala WWW'02;
Twitter's WTF recommender, WWW'13 runs it per user): you never want ONE
personalization, you want thousands. Looping the single-set kernel from
the driver serializes the cluster; here every seed set advances together
as one (set_id, vid)-keyed state — the same all-pivots-at-once discipline
as betweenness/closeness — so k personalizations cost one superstep
pipeline with k× the rows, not k pipelines.

Per superstep (the equation of pagerank._rank_power with a seed
teleport, as personalized_pagerank runs it, per set):
rank = (1−d)·e + d·(in_mass + dangling_mass·e), teleport and dangling
both ∝ the set's uniform seed vector e. One explode-groupBy
shuffle keyed (set_id, vid); per-set dangling mass is a |sets|-row
aggregate joined back broadcast. The step runs on the one superstep loop
(``streaming/supersteps.py``, through ``pagerank._power_run``) and emits
|Δrank| as ``_delta``; every superstep is materialized (the broadcast
boundary rule — no chaining, as for the dangling single-set kernel).

State is dense per set (k·n rows): the faithful power-iteration parity
form. At true serving scale (millions of sets) the standard move is
forward-push/residual sparsification on top of this same keyed layout —
the shuffle keys and join shapes are unchanged, rows just get pruned by a
residual threshold.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from tric_spark.graph import cached_out_adjacency
from tric_spark.operators.pagerank import _power_run, _rank_cols


def multi_personalized_pagerank(
    directed: DataFrame,
    vertices: DataFrame,
    seed_sets: DataFrame,
    d: float = 0.85,
    tol: float = 1e-6,
    max_iter: int = 100,
) -> DataFrame:
    """(set_id, vid, rank) — one personalized PageRank per ``set_id``.
    ``seed_sets``: (set_id, vid) rows; each set teleports uniformly over
    its own seeds, and its dangling mass returns to its own seeds. Empty
    input raises (a personalization needs seeds). ``tol=0`` runs exactly
    ``max_iter`` supersteps (oracle-replayable); ``tol>0`` stops when the
    max |Δ| across ALL sets drops below tol, read from the superstep's own
    checkpoint whatever k is."""
    seeds = seed_sets.select("set_id", "vid").distinct()
    counts = seeds.groupBy("set_id").agg(F.count(F.lit(1)).alias("_ns"))
    if counts.isEmpty():
        raise ValueError("multi_personalized_pagerank needs at least one seed set")
    set_ids = counts.select("set_id")
    # dense (set_id × vid) teleport frame: the set list is broadcast (k is
    # query-batch-sized, never corpus-sized), the vertex table streams once
    ev = (
        vertices.select("vid")
        .crossJoin(F.broadcast(set_ids))
        .join(seeds.withColumn("_s", F.lit(1)), ["set_id", "vid"], "left")
        .join(F.broadcast(counts), "set_id")
        .select(
            "set_id",
            "vid",
            F.when(F.col("_s").isNotNull(), F.lit(1.0) / F.col("_ns"))
            .otherwise(F.lit(0.0))
            .alias("e"),
        )
    )
    edges = directed.select("src", "dst")
    adj = cached_out_adjacency(edges)
    adj.count()

    init = ev.select("set_id", "vid", F.col("e").alias("rank"), "e")

    def step(state: DataFrame) -> DataFrame:
        mass = (
            state.join(adj, "vid", "left")
            .select(
                "set_id",
                F.explode_outer("nbrs").alias("tvid"),
                F.when(F.col("out_deg").isNull(), F.col("rank"))
                .otherwise(F.col("rank") / F.col("out_deg"))
                .alias("c"),
            )
            .groupBy("set_id", "tvid")
            .agg(F.sum("c").alias("in_mass"))
        )
        dang = (
            mass.filter(F.col("tvid").isNull())
            .groupBy("set_id")
            .agg(F.sum("in_mass").alias("_dm"))
        )
        rank = F.lit(1.0 - d) * F.col("e") + F.lit(d) * (
            F.coalesce("in_mass", F.lit(0.0))
            + F.coalesce("_dm", F.lit(0.0)) * F.col("e")
        )
        return (
            state.select("set_id", "vid", "e", F.col("rank").alias("_prev"))
            .join(
                mass.withColumnRenamed("tvid", "vid"), ["set_id", "vid"], "left"
            )
            .join(F.broadcast(dang), "set_id", "left")
            .select("set_id", "vid", *_rank_cols(rank), "e")
        )

    # the per-set dangling fold is a broadcast boundary: unchained
    return _power_run(init, step, tol, max_iter, chain=1).select(
        "set_id", "vid", "rank"
    )
