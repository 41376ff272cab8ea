"""Connected components via hash-min label propagation. [north-rule]

Semantics (SURVEY §2.5): comp(v) starts at v; each superstep
comp(v) ← min(comp(v), min over neighbors' comp); fixpoint when no row
changes. Component id = min vertex id in the component (exact-match oracle).

Scale notes: each superstep is one shuffle (edges ⋈ comps on src, groupBy
dst min). Hash-min converges in O(diameter) supersteps — fine for web graphs
(small diameter); for adversarially long paths the two-phase large-star/
small-star variant (Kiveris et al., "Connected Components in MapReduce and
Beyond") drops it to O(log n) rounds; :func:`cc_star` implements it for that
regime. Both return identical (vid, comp) with comp = min vertex id.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from tric_spark.streaming.supersteps import DELTA, SuperstepDriver


def connected_components(
    sym_edges: DataFrame,
    vertices: DataFrame,
    max_iter: int = 200,
    driver: SuperstepDriver | None = None,
) -> DataFrame:
    """(vid, comp) at fixpoint. ``sym_edges`` must hold both directions.

    ``driver``: a checkpointing superstep driver for resumable runs;
    without one the same loop runs without commits. Every superstep is
    materialized: the step references its input twice, so chained steps
    would recompute part of the inner plan. The fixpoint test is the
    observed max of the step's "label changed" column — no signature
    aggregate or old⋈new join."""
    from tric_spark.graph import cached_out_adjacency

    comps = vertices.withColumn("comp", F.col("vid"))
    # adjacency-list form cached once: supersteps shuffle the n-row comp
    # state, not the m-row edge table; min partial-aggregates map-side
    adj = cached_out_adjacency(sym_edges.select("src", "dst"))

    def step(comps: DataFrame) -> DataFrame:
        nbr_min = (
            adj.join(comps, "vid")
            .select(F.explode("nbrs").alias("vid"), "comp")
            .groupBy("vid")
            .agg(F.min("comp").alias("nbr_comp"))
        )
        new = F.least(F.col("comp"), F.coalesce(F.col("nbr_comp"), F.col("comp")))
        # the loop's convergence column: did this row change
        return comps.join(nbr_min, "vid", "left").select(
            "vid", new.alias("comp"), (new != F.col("comp")).alias(DELTA)
        )

    return (driver or SuperstepDriver(vertices.sparkSession)).run(
        init=comps,
        step=step,
        max_iter=max_iter,
        converged=lambda changed: changed == 0,
    )


# ---------------------------------------------------------------------------
# large-star / small-star (O(log n) rounds)
# ---------------------------------------------------------------------------


def _canonical(pairs: DataFrame) -> DataFrame:
    return (
        pairs.filter(F.col("u") != F.col("v"))
        .select(F.least("u", "v").alias("src"), F.greatest("u", "v").alias("dst"))
        .dropDuplicates(["src", "dst"])
    )


def _large_star(canon: DataFrame) -> DataFrame:
    """large-star: every node u links its strictly-larger neighbors to
    m = min(Γ(u) ∪ {u}). One groupBy-min + one join per round."""
    sym = canon.select("src", "dst").union(
        canon.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    mins = sym.groupBy("src").agg(F.min("dst").alias("mn"))
    m = F.least(F.col("src"), F.col("mn"))
    return _canonical(
        sym.join(mins, "src")
        .filter(F.col("dst") > F.col("src"))
        .select(F.col("dst").alias("u"), m.alias("v"))
    )


def _small_star(canon: DataFrame) -> DataFrame:
    """small-star: every node links its smaller-or-equal neighborhood
    (and itself) to its minimum. Input/output canonical (src < dst)."""
    mins = canon.groupBy("dst").agg(F.min("src").alias("m"))
    via_nbrs = canon.join(mins, "dst").select(
        F.col("src").alias("u"), F.col("m").alias("v")
    )
    self_edge = mins.select(F.col("dst").alias("u"), F.col("m").alias("v"))
    return _canonical(via_nbrs.union(self_edge))


def _edge_checksum(canon: DataFrame) -> tuple[int, int]:
    # pmod bounds each term so the sum can't overflow long under ANSI mode
    row = canon.agg(
        F.count("*").alias("n"),
        F.sum(F.pmod(F.xxhash64("src", "dst"), F.lit(1_000_000_007))).alias("h"),
    ).collect()[0]
    return int(row["n"] or 0), int(row["h"] or 0)


def cc_star(
    sym_edges: DataFrame, vertices: DataFrame, max_rounds: int = 50
) -> DataFrame:
    """(vid, comp) via alternating large-star/small-star — O(log n) rounds
    regardless of graph diameter (hash-min needs O(diameter)). At
    convergence every component is a star centered at its minimum id.
    """
    canon = _canonical(
        sym_edges.select(F.col("src").alias("u"), F.col("dst").alias("v"))
    ).localCheckpoint(eager=True)
    sig = _edge_checksum(canon)
    for _ in range(max_rounds):
        canon = _small_star(_large_star(canon)).localCheckpoint(eager=True)
        new_sig = _edge_checksum(canon)
        if new_sig == sig:
            break
        sig = new_sig
    members = canon.select(F.col("dst").alias("vid"), F.col("src").alias("comp"))
    roots = canon.select(F.col("src").alias("vid"), F.col("src").alias("comp")).distinct()
    known = members.union(roots)
    isolated = vertices.join(known, "vid", "left_anti").select(
        "vid", F.col("vid").alias("comp")
    )
    return known.union(isolated)


def components_of_pairs(
    pairs: DataFrame,
    local_cutover: int | None = 100_000,
    max_iter: int = 200,
) -> DataFrame:
    """(vid, comp) over the undirected pair graph ``pairs`` (a, b) —
    comp = min member vid, vertices = pair endpoints. The closure the
    dedup family (neardup_groups / semantic_dedup) runs over its
    verified duplicate pairs.

    r6 size gate: duplicate-pair graphs are usually TINY relative to the
    corpus (hundreds of rows at sf0.1), but hash-min CC still pays
    O(diameter) superstep barriers on them — measured ~1.5–2 s of pure
    per-action floor per query. Under ``local_cutover`` pair rows the
    closure runs driver-side instead: one bounded collect + union-find
    with min-vid relabeling — identical labels by construction (min over
    a merged component IS the global min). Above the gate (or with
    ``None``) the distributed hash-min kernel runs as before; the
    collect is bounded by the cutover at any corpus scale."""
    pairs = pairs.select(
        F.col(pairs.columns[0]).alias("a"), F.col(pairs.columns[1]).alias("b")
    )
    if local_cutover is not None:
        rows = None
        if pairs.count() <= local_cutover:
            rows = pairs.collect()
        if rows is not None:
            parent: dict = {}

            def find(x):
                while parent[x] != x:
                    parent[x] = parent[parent[x]]
                    x = parent[x]
                return x

            for r in rows:
                for v in (r["a"], r["b"]):
                    if v not in parent:
                        parent[v] = v
                ra, rb = find(r["a"]), find(r["b"])
                if ra != rb:
                    parent[ra] = rb
            mn: dict = {}
            for v in parent:
                root = find(v)
                if root not in mn or v < mn[root]:
                    mn[root] = v
            out = [(v, mn[find(v)]) for v in parent]
            from pyspark.sql.types import StructField, StructType

            dt = pairs.schema["a"].dataType
            schema = StructType(
                [StructField("vid", dt, False), StructField("comp", dt, False)]
            )
            return pairs.sparkSession.createDataFrame(out, schema)
    sym = pairs.select(F.col("a").alias("src"), F.col("b").alias("dst")).union(
        pairs.select(F.col("b").alias("src"), F.col("a").alias("dst"))
    )
    verts = sym.select(F.col("src").alias("vid")).distinct()
    return connected_components(sym, verts, max_iter=max_iter)


def cc_incremental(
    prev_labels: DataFrame,
    new_edges: DataFrame,
    max_iter: int = 200,
) -> DataFrame:
    """(vid, comp) after ADDING ``new_edges`` to an already-labeled graph
    — without touching the old edge table.

    ``prev_labels``: (vid, comp) from a previous ``connected_components``
    run (comp = min member vid — the invariant both kernels here
    produce). ``new_edges``: (src, dst), direction-agnostic (symmetrized
    internally). Returns the labeling of the UNION graph, identical to a
    from-scratch run (min-vid labels: min over merged mins IS the global
    min, so the invariant is preserved and the operator composes with
    itself across days).

    Edges only ever merge components, so the delta algorithm is sound:
    (1) translate each new edge to its endpoints' CURRENT labels (two
    broadcast-or-shuffle joins against the n-row label state; endpoints
    the old labeling never saw label themselves), (2) drop intra-
    component edges — what survives is the LABEL GRAPH, bounded by
    |new_edges| rows regardless of how big the old graph is, (3) run
    hash-min CC on that tiny graph, (4) one join remaps old labels.

    The 100-TB story: a daily web crawl adds ~0.1% new edges; from-
    scratch hash-min supersteps shuffle the full n-row state O(diameter)
    times, while this path shuffles the full state exactly ONCE (the
    remap join) and iterates only on the delta. Edge DELETION is not
    incremental (splits need recompute); callers diff edge tables and
    fall back when deletions exist.

    Reference: tric has no incremental mode (graph.hpp rebuilds the CSR
    per run); semantics follow the union-find contraction argument in
    Kiveris et al., "Connected Components in MapReduce" (SoCC'14) §5.
    """
    lab_s = prev_labels.select(F.col("vid").alias("src"), F.col("comp").alias("_ls"))
    lab_d = prev_labels.select(F.col("vid").alias("dst"), F.col("comp").alias("_ld"))
    lab_e = (
        new_edges.select("src", "dst")
        .join(lab_s, "src", "left")
        .join(lab_d, "dst", "left")
        .select(
            F.coalesce(F.col("_ls"), F.col("src")).alias("src"),
            F.coalesce(F.col("_ld"), F.col("dst")).alias("dst"),
        )
        .filter(F.col("src") != F.col("dst"))
    )
    lab_sym = lab_e.union(
        lab_e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).distinct()
    lab_verts = lab_sym.select(F.col("src").alias("vid")).distinct()
    merged = connected_components(lab_sym, lab_verts, max_iter=max_iter)

    new_vs = (
        new_edges.select(F.col("src").alias("vid"))
        .union(new_edges.select(F.col("dst").alias("vid")))
        .distinct()
    )
    base = prev_labels.unionByName(
        new_vs.join(prev_labels, "vid", "left_anti")
        .select("vid", F.col("vid").alias("comp"))
    )
    remap = merged.select(
        F.col("vid").alias("comp"), F.col("comp").alias("_new")
    )
    return base.join(remap, "comp", "left").select(
        "vid", F.coalesce(F.col("_new"), F.col("comp")).alias("comp")
    )
