"""Edge-table construction and normalization — the §2.2 dataflow, Spark-first.

Reference analogs (cited per SURVEY.md §2.2):
- symmetrize        → generator emits both directions   (graph.hpp:814–819)
- dedup             → linear find_if duplicate rejection (graph.hpp:1055–1060)
- sort by (src,dst) → sorted-adjacency invariant         (graph.hpp:1190–1198)
- 1-D partitioning  → parts_/get_owner                   (graph.hpp:124–188)
- orientation i<j<k → inbufastric exact-1× counting      (inbufastric.hpp:192)
- degree-ordered orientation: the HPEC'22 "exploit the graph structure" idea
  taken to its standard conclusion — orient hub edges away from hubs so the
  wedge count per vertex is O(sqrt(m)) instead of O(deg²).

Everything here is declarative DataFrame plan — Catalyst handles pushdown and
AQE handles balance; no per-row Python anywhere.
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

# ---------------------------------------------------------------------------
# Vertex ids
# ---------------------------------------------------------------------------


def assign_vertex_ids(urls: DataFrame, url_col: str = "url") -> DataFrame:
    """Map distinct urls → int64 vertex ids via xxhash64.

    At 10^12-document scale a global dictionary (row_number over a total
    order) is a prohibitive single sort; xxhash64 gives a stable, shuffle-free
    id. Birthday math: the EXPECTED number of colliding pairs is n²/2^65 —
    ≈ 0.03 at n=10^9 (collisions unlikely), but ≈ 27,000 at n=10^12
    (collisions certain). Above ~10^9 vertices use :func:`assign_wide_ids`
    (128-bit: two independent hashes) instead of relying on the fallback.
    At any scale callers must run :func:`audit_id_collisions` and fall back
    to :func:`assign_dense_ids` (or the 128-bit widening) if it reports any.
    Returns (url, vid).
    """
    return urls.select(url_col).distinct().withColumn("vid", F.xxhash64(F.col(url_col)))


def assign_wide_ids(urls: DataFrame, url_col: str = "url") -> DataFrame:
    """Map distinct urls → 128-bit vertex ids: vid = struct<hi, lo> of two
    independent 64-bit hashes (xxhash64 of the url and of its reverse —
    reverse is injective, so the two coordinates are independent uniform
    hashes of the same key). Expected colliding pairs at n=10^12:
    n²/2^129 ≈ 1.5e-15 — the widening :func:`assign_vertex_ids` prescribes
    above ~10^9 vertices (VERDICT r4 #4). Still shuffle-free and stable at
    any parallelism.

    Struct vids flow through every JVM operator (joins, least/greatest
    canonicalization, struct ordering in the wedge filter, collect_list
    adjacency, PageRank/CC/LP state) unchanged; the Arrow/numpy TC kernels
    require int64 ids, so ``triangle_count(strategy="auto")`` routes
    struct-id graphs to the JVM join kernel — which the measured edge-volume
    rule picks anyway at every scale where 128-bit ids are warranted
    (10^9+ vertices ≫ AUTO_ARROW_MAX_EDGES). Returns (url, vid).
    """
    u = urls.select(url_col).distinct()
    return u.withColumn(
        "vid",
        F.struct(
            F.xxhash64(F.col(url_col)).alias("hi"),
            F.xxhash64(F.reverse(F.col(url_col))).alias("lo"),
        ),
    )


def audit_id_collisions(ids: DataFrame, id_col: str = "vid", key_col: str = "url") -> int:
    """Count distinct keys that collided on the hash id (should be 0)."""
    return (
        ids.groupBy(id_col)
        .agg(F.countDistinct(key_col).alias("n"))
        .filter(F.col("n") > 1)
        .count()
    )


def assign_dense_ids(urls: DataFrame, url_col: str = "url") -> DataFrame:
    """Deterministic dense ids 0..n-1 via row_number over url order.

    Test-scale / oracle path only (global sort); production uses
    :func:`assign_vertex_ids`.
    """
    w = Window.orderBy(url_col)
    return (
        urls.select(url_col)
        .distinct()
        .withColumn("vid", F.row_number().over(w).cast("long") - 1)
    )


# ---------------------------------------------------------------------------
# Edge normalization
# ---------------------------------------------------------------------------


def canonical_edges(edges: DataFrame) -> DataFrame:
    """Canonical undirected edge set: (least, greatest), self-loops dropped,
    exact-duplicate edges dropped. One row per undirected edge {u,v}, u<v.

    This is the deduped oriented view the TC kernels consume — the Spark form
    of the reference's sorted symmetric CSR minus the double storage.
    """
    return (
        edges.filter(F.col("src") != F.col("dst"))
        .select(
            F.least("src", "dst").alias("src"),
            F.greatest("src", "dst").alias("dst"),
        )
        .dropDuplicates(["src", "dst"])
    )


def symmetrize(edges: DataFrame) -> DataFrame:
    """Both directions of every edge — the reference's symmetric storage
    (graph.hpp:814–819). Input: canonical (u<v) edges; output has 2×rows."""
    return edges.select("src", "dst").union(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )


def degrees(sym_edges: DataFrame) -> DataFrame:
    """(vid, degree) from the symmetric edge table — undirected degree."""
    return sym_edges.groupBy(F.col("src").alias("vid")).agg(F.count("*").alias("degree"))


def orient_by_degree(canon: DataFrame, deg: DataFrame) -> DataFrame:
    """Re-orient canonical edges by (degree, id): edge points from the
    endpoint with smaller (degree, id) to the larger.

    Exact same triangle count as id-orientation, but the out-degree of every
    vertex in the oriented graph is O(sqrt(m)) — kills the hub wedge blowup
    that makes id-orientation quadratic on power-law graphs (the scale move
    behind HPEC'22's structure exploitation; SURVEY §4 #1).
    """
    d = deg.select(F.col("vid"), F.col("degree"))
    e = (
        canon.join(d.withColumnsRenamed({"vid": "src", "degree": "sdeg"}), "src")
        .join(d.withColumnsRenamed({"vid": "dst", "degree": "ddeg"}), "dst")
    )
    fwd = (F.col("sdeg") < F.col("ddeg")) | (
        (F.col("sdeg") == F.col("ddeg")) & (F.col("src") < F.col("dst"))
    )
    return e.select(
        F.when(fwd, F.col("src")).otherwise(F.col("dst")).alias("src"),
        F.when(fwd, F.col("dst")).otherwise(F.col("src")).alias("dst"),
    )


def adjacency(oriented: DataFrame) -> DataFrame:
    """(src, nbrs sorted ascending) — the CSR adjacency-list view.

    ``array_sort(collect_list(...))`` reproduces the reference's sorted-
    adjacency invariant (graph.hpp:1190–1198) at the row level; the sort is
    per-list, not global, so this is one shuffle + local sorts.
    """
    return oriented.groupBy("src").agg(F.array_sort(F.collect_list("dst")).alias("nbrs"))


def canonical_edges_weighted(edges: DataFrame) -> DataFrame:
    """Weight-preserving canonicalization: (least, greatest, sum of weights
    over duplicate/reversed rows). The reference stores weights but no
    kernel reads them (SURVEY §1.1); here they feed weighted PageRank."""
    return (
        edges.filter(F.col("src") != F.col("dst"))
        .select(
            F.least("src", "dst").alias("src"),
            F.greatest("src", "dst").alias("dst"),
            F.col("weight"),
        )
        .groupBy("src", "dst")
        .agg(F.sum("weight").alias("weight"))
    )


def symmetrize_weighted(canon_w: DataFrame) -> DataFrame:
    return canon_w.select("src", "dst", "weight").union(
        canon_w.select(
            F.col("dst").alias("src"), F.col("src").alias("dst"), "weight"
        )
    )


def out_adjacency(directed: DataFrame) -> DataFrame:
    """(vid, nbrs, out_deg) — adjacency-list form of the directed edge table.

    The superstep kernels join per-vertex state against THIS (n rows,
    cached, stable partitioning) and explode, instead of joining against the
    m-row edge table: per superstep only the n-row state shuffles, and the
    exploded contributions are map-side partially aggregated before the
    second shuffle. This is the compressed neighbor-list wire format of the
    reference (cfastric.hpp:169–178) doing the same job: ship one header per
    vertex, not one message per edge.
    """
    return directed.groupBy(F.col("src").alias("vid")).agg(
        F.collect_list("dst").alias("nbrs"), F.count("*").alias("out_deg")
    )


def cache_once(df: DataFrame) -> DataFrame:
    """``df``, cached. ``.cache()`` is called only when the plan is not
    cached yet: Spark's CacheManager serves a cached plan to every frame
    with that plan, and caching it again only logs "Asked to cache already
    cached data". Adds no action: the cache fills on first use."""
    return df.cache() if df.storageLevel == StorageLevel.NONE else df


def cached_out_adjacency(directed: DataFrame) -> DataFrame:
    """:func:`out_adjacency` through :func:`cache_once` — the adjacency of
    the superstep kernels, which ``pipeline.LinkGraph.adj`` caches for
    the pipeline's graph before they run."""
    return cache_once(out_adjacency(directed))


def vertices(sym_edges: DataFrame) -> DataFrame:
    """Distinct vertex ids present in the edge table."""
    return sym_edges.select(F.col("src").alias("vid")).distinct()


def vertex_stats(oriented: DataFrame) -> DataFrame:
    """Per-vertex neighbor min/max — the broadcastable zone-map the
    reference's erange pruning uses (hbufastric.hpp:179–197, 233–235)."""
    return oriented.groupBy("src").agg(
        F.min("dst").alias("min_nbr"),
        F.max("dst").alias("max_nbr"),
        F.count("*").alias("out_deg"),
    )


def edge_diff(old_edges: DataFrame, new_edges: DataFrame) -> DataFrame:
    """One-row churn report between two canonical edge snapshots:
    (n_old, n_new, n_added, n_removed, n_common, jaccard) — the
    crawl-over-crawl diff read before deciding between an incremental
    update (cc_incremental / pagerank warm start) and a full recompute.

    Shape: two map-side-combined anti-join counts + one semi-join count,
    folded with broadcast 1-row cross joins; jaccard = common / union,
    6dp, NULL when both snapshots are empty."""
    o = old_edges.select("src", "dst")
    n = new_edges.select("src", "dst")
    c_old = o.agg(F.count(F.lit(1)).alias("n_old"))
    c_new = n.agg(F.count(F.lit(1)).alias("n_new"))
    c_add = n.join(o, ["src", "dst"], "left_anti").agg(
        F.count(F.lit(1)).alias("n_added")
    )
    c_rem = o.join(n, ["src", "dst"], "left_anti").agg(
        F.count(F.lit(1)).alias("n_removed")
    )
    c_com = o.join(n, ["src", "dst"], "left_semi").agg(
        F.count(F.lit(1)).alias("n_common")
    )
    r = (
        c_old.crossJoin(F.broadcast(c_new))
        .crossJoin(F.broadcast(c_add))
        .crossJoin(F.broadcast(c_rem))
        .crossJoin(F.broadcast(c_com))
    )
    union = F.col("n_common") + F.col("n_added") + F.col("n_removed")
    return r.select(
        "n_old",
        "n_new",
        "n_added",
        "n_removed",
        "n_common",
        F.round(
            F.col("n_common") / F.nullif(union.cast("double"), F.lit(0.0)), 6
        ).alias("jaccard"),
    )
