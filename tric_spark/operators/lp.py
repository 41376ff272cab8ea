"""Synchronous label propagation. [north-rule]

Semantics (SURVEY §2.5): every vertex starts with label = vid; each
superstep ALL vertices simultaneously adopt the most frequent label among
their neighbors, ties broken by the smallest label; run a fixed number of
supersteps (synchronous LP need not converge — it can 2-cycle on bipartite
graphs, which the K3,3 fixture exercises). Deterministic by construction:
the tie-break is a total order, so the result is independent of
partitioning/scheduling.

Per superstep: one shuffle (edges ⋈ labels on src, groupBy (dst,label)
count) + one window top-1. The window partitions by vertex — no global
sort, scales as a hash shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from tric_spark.streaming.supersteps import SuperstepDriver


def label_propagation(
    sym_edges: DataFrame,
    vertices: DataFrame,
    num_iter: int = 5,
    driver: SuperstepDriver | None = None,
) -> DataFrame:
    """(vid, label) after ``num_iter`` synchronous supersteps. ``driver``:
    a checkpointing superstep driver for resumable runs; without one the
    same loop runs without commits."""
    from tric_spark.graph import cached_out_adjacency

    labels = vertices.withColumn("label", F.col("vid"))
    # adjacency-list form cached once (see pagerank.py for the shuffle math)
    adj = cached_out_adjacency(sym_edges.select("src", "dst"))

    def step(labels: DataFrame) -> DataFrame:
        freq = (
            adj.join(labels, "vid")
            .select(F.explode("nbrs").alias("vid"), "label")
            .groupBy("vid", "label")
            .agg(F.count("*").alias("n"))
        )
        w = Window.partitionBy("vid").orderBy(F.col("n").desc(), F.col("label").asc())
        best = (
            freq.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("vid", "label")
        )
        # isolated vertices keep their label
        return (
            labels.withColumnRenamed("label", "old_label")
            .join(best, "vid", "left")
            .select("vid", F.coalesce(F.col("label"), F.col("old_label")).alias("label"))
        )

    # one checkpoint per superstep, deliberately NOT chained: the LP step
    # references its input twice (contribution join + isolated-vertex
    # fallback join), so chained lazy steps recompute the window-heavy
    # inner plan — measured ~15% slower than per-step materialization at
    # sf0.1 (A/B in git history; PageRank chains because its step is a
    # single cheap join pipeline)
    return (driver or SuperstepDriver(vertices.sparkSession)).run(
        init=labels, step=step, max_iter=num_iter
    )


def label_spreading(
    sym_edges: DataFrame,
    degrees: DataFrame,
    seeds: DataFrame,
    num_iter: int = 2,
) -> DataFrame:
    """Semi-supervised label SPREADING (Zhu & Ghahramani 2002 clamped
    propagation): ``seeds`` is (vid, label) for the labeled minority;
    each superstep every vertex receives mass Σ_{u→v} mass(u,·)/deg(u)
    per label, then seed vertices are re-clamped to their one-hot label.
    Readout: (vid, pred_label, score) — the argmax label per reached
    vertex on the NUDGED 6dp-rounded mass with label tie-break (masses
    are rational sums of 1/deg chains, exactly the midpoint-flake class
    the SALSA lore documents — hence the +1e-9 nudge on both engines).

    Scale shape: state is SPARSE long-format (vid, label, mass) — only
    reached (vertex, label) pairs exist, so early supersteps touch the
    seed frontier, not |V|×|labels|.  Per superstep: one edges⋈state
    shuffle + one groupBy, then the clamp as anti-join ∪ seeds, run as a
    fixed-length loop of the one superstep loop, which localCheckpoints
    each superstep (lineage rule); the step joins the edge table against
    the state, never the state against itself, so plain localCheckpoint
    suffices (plans/lineage.py lore).
    """
    deg = degrees.select("vid", "degree")
    seed_hot = seeds.select("vid", "label", F.lit(1.0).alias("mass"))

    def step(state: DataFrame) -> DataFrame:
        contrib = (
            sym_edges.join(state.withColumnRenamed("vid", "src"), "src")
            .join(deg.withColumnRenamed("vid", "src"), "src")
            .groupBy(F.col("dst").alias("vid"), "label")
            .agg(F.sum(F.col("mass") / F.col("degree")).alias("mass"))
        )
        return contrib.join(seeds.select("vid"), "vid", "left_anti").unionByName(
            seed_hot
        )

    state = SuperstepDriver(sym_edges.sparkSession).run(seed_hot, step, num_iter)
    w = Window.partitionBy("vid").orderBy(
        F.col("score").desc(), F.col("label").asc()
    )
    return (
        state.select(
            "vid", "label", F.round(F.col("mass") + F.lit(1e-9), 6).alias("score")
        )
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("vid", F.col("label").alias("pred_label"), "score")
    )
