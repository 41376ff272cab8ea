"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship: per-vertex exact triangle counts over the
link graph derived from the sf0.001 documents table.

``queries()`` / ``oracle_sql()`` — one entry per implemented operator
(SURVEY.md §2 + the training-pipeline family), each replayed by the driver
against DuckDB at sf0.01. Column names/aliases match the SQL exactly.
"""

from __future__ import annotations

import math
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tric_spark import graph
from tric_spark.operators import dedup, similarity, tc, textstats
from tric_spark.operators.cc import connected_components
from tric_spark.operators.lp import label_propagation
from tric_spark.operators.pagerank import pagerank
from tric_spark.operators.pii import EMAIL_RE, IPV4_RE, PHONE_RE
from tric_spark.operators.urlnorm import CANON_SQL_STAGES
from tric_spark.sources.doc_graph import DOC_DIRECTED_SQL, DOC_EDGES_SQL, doc_edges
from tric_spark.sources.tables import load_table

SF0001 = "/root/testdata/sf0.001"


# memoized per (session, sf_dir): without this every reference to the edge
# table re-derives it from the parquet scan — the flagship plan read the
# input 13× (measured via explain). Caching canon+deg collapses that to one
# scan + in-memory reads, which is what a real 100 TB pipeline does; the
# tables are tiny (one row per edge/vertex id pair).
_GRAPH_CACHE: dict = {}


def _graph_tables(spark: SparkSession, sf_dir: str):
    hit = _GRAPH_CACHE.get(sf_dir)
    if hit is not None and hit[0] is spark:
        return hit[1]
    canon = doc_edges(spark, sf_dir).cache()
    canon.count()
    sym = graph.symmetrize(canon)
    verts = graph.vertices(sym)
    deg = graph.degrees(sym).cache()
    deg.count()
    tables = (canon, sym, verts, deg)
    _GRAPH_CACHE[sf_dir] = (spark, tables)
    return tables


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: degree-ordered adjacency-intersection triangle counting
    (the reference's recommended AGGR_BUFR_INRECV semantics) per vertex."""
    canon, sym, verts, deg = _graph_tables(spark, SF0001)
    oriented = graph.orient_by_degree(canon, deg)
    pv = tc.triangles_per_vertex_adj2(oriented)
    return (
        pv.join(deg, "vid")
        .select("vid", "tc", "degree")
        .orderBy(F.col("tc").desc(), F.col("vid"))
    )


# ---------------------------------------------------------------------------
# queries
# ---------------------------------------------------------------------------


def _scalar(df_count: int, spark: SparkSession, name: str) -> DataFrame:
    return spark.createDataFrame([(int(df_count),)], f"{name} long")


def q_edges_canonical(spark, sf_dir):
    return doc_edges(spark, sf_dir)


def q_degree_histogram(spark, sf_dir):
    _, _, _, deg = _graph_tables(spark, sf_dir)
    return deg.groupBy("degree").agg(F.count("*").alias("n_vertices"))


def q_wedge_count(spark, sf_dir):
    _, _, _, deg = _graph_tables(spark, sf_dir)
    return deg.agg(
        (F.sum(F.col("degree") * (F.col("degree") - 1)) / 2).cast("long").alias("wedges")
    )


def q_triangle_count_join(spark, sf_dir):
    # id-oriented probe = the documented reference-semantics variant
    # (global_i<j<k): wedge volume is O(Σdeg²) on hubs, so this and
    # _pruned run at oracle scale only — the scale kernels (adj/adj2/
    # salted) take degree orientation
    canon, *_ = _graph_tables(spark, sf_dir)
    return _scalar(tc.triangle_count_join(canon), spark, "tc")


def q_triangle_count_join_pruned(spark, sf_dir):
    canon, *_ = _graph_tables(spark, sf_dir)
    return _scalar(tc.triangle_count_join(canon, prune=True), spark, "tc")


def q_triangle_count_adj(spark, sf_dir):
    canon, sym, verts, deg = _graph_tables(spark, sf_dir)
    oriented = graph.orient_by_degree(canon, deg)
    return _scalar(tc.triangle_count_adj(oriented), spark, "tc")


def q_triangle_count_adj2(spark, sf_dir):
    canon, sym, verts, deg = _graph_tables(spark, sf_dir)
    oriented = graph.orient_by_degree(canon, deg)
    return _scalar(tc.triangle_count_adj2(oriented), spark, "tc")


def q_triangle_count_salted(spark, sf_dir):
    # hub-split hybrid on the id-oriented edge table; tau=8 forces both the
    # cold (self-adjacency) and hot (2-D grid) branches to carry load
    canon, *_ = _graph_tables(spark, sf_dir)
    return _scalar(tc.triangle_count_adj2_salted(canon, tau=8, num_salts=4), spark, "tc")


def q_triangles_per_vertex(spark, sf_dir):
    canon, sym, verts, deg = _graph_tables(spark, sf_dir)
    oriented = graph.orient_by_degree(canon, deg)
    return tc.triangles_per_vertex_adj2(oriented)


def q_local_clustering(spark, sf_dir):
    canon, sym, verts, deg = _graph_tables(spark, sf_dir)
    oriented = graph.orient_by_degree(canon, deg)
    return tc.local_clustering(oriented, deg)


def q_global_clustering(spark, sf_dir):
    canon, sym, verts, deg = _graph_tables(spark, sf_dir)
    tri = tc.triangle_count_join(canon)
    wedges = deg.agg(
        (F.sum(F.col("degree") * (F.col("degree") - 1)) / 2).cast("long").alias("w")
    ).collect()[0]["w"]
    return spark.createDataFrame(
        [(round(3.0 * tri / wedges, 6),)], "gcc double"
    )


def q_graph_summary(spark, sf_dir):
    canon, sym, verts, deg = _graph_tables(spark, sf_dir)
    return deg.agg(
        F.count("*").alias("n_vertices"),
        (F.sum("degree") / 2).cast("long").alias("n_edges"),
        F.max("degree").alias("max_degree"),
        F.round(F.avg("degree"), 6).alias("avg_degree"),
    )


def q_core_numbers(spark, sf_dir):
    from tric_spark.operators.kcore import core_numbers

    canon, sym, verts, deg = _graph_tables(spark, sf_dir)
    return core_numbers(sym)


def q_kcore2_edges(spark, sf_dir):
    from tric_spark.operators.kcore import kcore_subgraph

    canon, sym, verts, deg = _graph_tables(spark, sf_dir)
    return kcore_subgraph(sym, k=2)


def q_edge_support(spark, sf_dir):
    from tric_spark.operators.truss import edge_support

    canon, *_ = _graph_tables(spark, sf_dir)
    return edge_support(canon)


def q_ktruss3_edges(spark, sf_dir):
    # k=3 (not 4): the sf0.01 doc graph's max truss is 3, so the 3-truss is
    # the largest NON-EMPTY fixed-k truss the gate can hash-check (103 edges
    # at sf0.01); k>=4 goldens live in test_truss.py
    from tric_spark.operators.truss import ktruss_edges

    canon, *_ = _graph_tables(spark, sf_dir)
    return ktruss_edges(canon, k=3)


def q_truss_numbers(spark, sf_dir):
    from tric_spark.operators.truss import truss_numbers

    canon, *_ = _graph_tables(spark, sf_dir)
    return truss_numbers(canon)


def q_cc_hashmin_step1(spark, sf_dir):
    canon, sym, verts, deg = _graph_tables(spark, sf_dir)
    nbr_min = sym.groupBy(F.col("dst").alias("vid")).agg(F.min("src").alias("m"))
    return nbr_min.select("vid", F.least("vid", "m").alias("comp"))


def q_bfs_from_0(spark, sf_dir):
    from tric_spark.operators.bfs import bfs_distances

    canon, sym, verts, deg = _graph_tables(spark, sf_dir)
    src = spark.createDataFrame([(0,)], "vid long")
    return bfs_distances(sym, src)


def q_cc_converged(spark, sf_dir):
    canon, sym, verts, deg = _graph_tables(spark, sf_dir)
    return connected_components(sym, verts)


def q_asof_purchase_click(spark, sf_dir):
    """As-of join: each purchase event gets the latest click at or
    before it for the same user (union-and-carry window — no theta
    join; ties pinned by the operator's documented total order)."""
    from tric_spark.operators.asof import asof_join

    ev = load_table(spark, sf_dir, "events")
    return asof_join(
        ev.filter(F.col("event_type") == "purchase"),
        ev.filter(F.col("event_type") == "click"),
        payload=("ts", "value"),
    )


def q_classify(spark, sf_dir):
    """fastText-style hashed linear classifier inference over the
    documents table (deterministic stand-in weights — see classifier.py)."""
    from tric_spark.operators.classifier import classify_docs

    return classify_docs(load_table(spark, sf_dir, "documents"))


def q_pq_codes(spark, sf_dir):
    """PQ encode of the embeddings table: 8 subspaces × 16 deterministic
    codewords (first-16-by-id donors). Long form (vec_id, sub, code) —
    the driver compare hashes scalars, not arrays; pq.pq_codes packs."""
    from tric_spark.operators.pq import pq_encode

    return pq_encode(load_table(spark, sf_dir, "embeddings"), n_sub=8, ks=16)


def q_pq_search(spark, sf_dir):
    """ADC top-5 for queries vec_id % 50 == 0 over the PQ codes."""
    from tric_spark.operators.pq import pq_search

    emb = load_table(spark, sf_dir, "embeddings")
    return pq_search(
        emb, emb.filter(F.col("vec_id") % 50 == 0), k=5, n_sub=8, ks=16
    )


def q_louvain2(spark, sf_dir):
    """Two synchronous Louvain move rounds (alternating-parity activity,
    integer 2m-scaled gains — the oracle replays rounds exactly)."""
    from tric_spark.operators.louvain import louvain_move

    canon, sym, verts, deg = _graph_tables(spark, sf_dir)
    return louvain_move(sym, rounds=2)


def q_louvain_graph(spark, sf_dir):
    """Phase-2 coarsening: the weighted community graph after the two
    louvain2 move rounds (self-loops carry the internal mass)."""
    from tric_spark.operators.louvain import louvain_aggregate, louvain_move

    canon, sym, verts, deg = _graph_tables(spark, sf_dir)
    return louvain_aggregate(sym, louvain_move(sym, rounds=2))


def q_hitting_times(spark, sf_dir):
    """6-step truncated expected hitting time to the seed set
    vid % 97 == 0 (absorbing-walk value iteration), 6dp-rounded."""
    from tric_spark.operators.hittime import hitting_times

    canon, sym, verts, deg = _graph_tables(spark, sf_dir)
    t = verts.filter(F.col("vid") % 97 == 0)
    return hitting_times(sym, t, iters=6).select(
        "vid", F.round("h", 6).alias("h")
    )


def q_cc_incremental(spark, sf_dir):
    """Delta CC: label the graph WITHOUT every 5th canonical edge, then
    fold those edges back in incrementally (label-graph contraction).
    The oracle is the from-scratch full-graph labeling — the incremental
    path must reproduce the recompute bit-for-bit."""
    from tric_spark.operators.cc import cc_incremental

    canon, sym, verts, deg = _graph_tables(spark, sf_dir)
    keep = (F.col("src") + F.col("dst")) % 5 != 0
    old_canon = canon.filter(keep)
    new_canon = canon.filter(~keep)
    prev = connected_components(graph.symmetrize(old_canon), verts)
    return cc_incremental(prev, new_canon)


def q_cc_star(spark, sf_dir):
    from tric_spark.operators.cc import cc_star

    canon, sym, verts, deg = _graph_tables(spark, sf_dir)
    return cc_star(sym, verts)


def q_pagerank_iter2(spark, sf_dir):
    canon, sym, verts, deg = _graph_tables(spark, sf_dir)
    r = pagerank(sym, verts, d=0.85, tol=0.0, max_iter=2)
    return r.select("vid", F.round("rank", 6).alias("rank"))


def q_host_conductance(spark, sf_dir):
    """Per-bin conductance of the 16-way host-locality partition — the
    Cheeger-quality companion of edge_cut (same md5 binning)."""
    from tric_spark.operators.spectral import partition_conductance

    canon, sym, verts, deg = _graph_tables(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents")
    labels = docs.select(
        F.col("doc_id").alias("vid"),
        F.pmod(
            F.conv(F.substring(F.md5(F.col("source")), 1, 12), 16, 10).cast(
                "long"
            ),
            F.lit(16),
        )
        .cast("int")
        .alias("side"),
    )
    return partition_conductance(sym, labels)


def q_mrl_recall(spark, sf_dir):
    """Matryoshka truncation curve: exact top-5 recall of 64/32/16/8-dim
    embedding prefixes against the full-width exact list."""
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.truncation_recall_eval(
        emb, emb.filter(F.col("vec_id") % 40 == 0)
    )


def q_spectral_cut(spark, sf_dir):
    """2-way spectral cut: sign of the Fiedler direction from 4 deflated
    lazy power-iteration supersteps (md5 init, fixed-iteration
    oracle-replayable mode); anchor-flipped so min vid is side 0."""
    from tric_spark.operators.spectral import spectral_bipartition

    canon, sym, verts, deg = _graph_tables(spark, sf_dir)
    return spectral_bipartition(sym, iters=4)


def q_edge_diff(spark, sf_dir):
    """Snapshot churn report between the 96%-edge 'previous day' graph and
    the full graph (the delta convention shared with cc_incremental /
    pagerank_warm)."""
    canon, _, _, _ = _graph_tables(spark, sf_dir)
    old = canon.filter((F.col("src") + F.col("dst")) % 25 != 0)
    return graph.edge_diff(old, canon)


def q_pagerank_warm(spark, sf_dir):
    """Incremental PageRank maintenance: 2 iterations on the full graph
    warm-started from a 2-iteration run on the 96%-edge 'previous day'
    graph (the cc_incremental delta convention) — vertices absent from
    the warm state seed at the uniform 1/n."""
    canon, sym, verts, deg = _graph_tables(spark, sf_dir)
    from tric_spark import graph as _g

    old_canon = canon.filter((F.col("src") + F.col("dst")) % 25 != 0)
    old_sym = _g.symmetrize(old_canon)
    prev = pagerank(old_sym, _g.vertices(old_sym), tol=0.0, max_iter=2)
    r = pagerank(sym, verts, tol=0.0, max_iter=2, init_ranks=prev)
    return r.select("vid", F.round("rank", 6).alias("rank"))


def q_ppr_iter2(spark, sf_dir):
    from tric_spark.operators.pagerank import personalized_pagerank

    canon, sym, verts, deg = _graph_tables(spark, sf_dir)
    seeds = spark.createDataFrame([(0,), (1,), (2,)], "vid long")
    r = personalized_pagerank(sym, verts, seeds, tol=0.0, max_iter=2)
    # +1e-9 nudge before the 6dp round, as in q_salsa_iter2: the 2-step
    # seed-teleport trajectory is rational and lands exactly on 6dp
    # midpoints (measured: 0.0053125 at sf0.001), where last-bit float
    # noise decides the rounding on either engine
    return r.select("vid", F.round(F.col("rank") + F.lit(1e-9), 6).alias("rank"))


def q_event_sessions(spark, sf_dir):
    from tric_spark.streaming.stateful import sessionize_batch

    ev = load_table(spark, sf_dir, "events").select("user_id", "ts", "value")
    return sessionize_batch(ev, gap_minutes=30)


def q_lp_iter2(spark, sf_dir):
    canon, sym, verts, deg = _graph_tables(spark, sf_dir)
    return label_propagation(sym, verts, num_iter=2)


def q_top_hubs(spark, sf_dir):
    # orderBy+limit compiles to a distributed TakeOrderedAndProject (each
    # partition keeps a local top-20) — never a single-partition window
    canon, sym, verts, deg = _graph_tables(spark, sf_dir)
    return (
        deg.orderBy(F.col("degree").desc(), F.col("vid").asc())
        .limit(20)
        .select("vid", "degree")
    )


def q_dedup_exact_groups(spark, sf_dir):
    return dedup.exact_duplicates(load_table(spark, sf_dir, "documents"))


def q_token_counts(spark, sf_dir):
    return textstats.token_counts(load_table(spark, sf_dir, "documents"))


def q_token_counts_bpe(spark, sf_dir):
    return textstats.token_counts_bpe(load_table(spark, sf_dir, "documents"))


def q_quality_scores(spark, sf_dir):
    return textstats.quality_scores(load_table(spark, sf_dir, "documents"))


def q_lang_id(spark, sf_dir):
    return textstats.lang_id(load_table(spark, sf_dir, "documents"))


def q_fingerprints(spark, sf_dir):
    return textstats.fingerprints(load_table(spark, sf_dir, "documents"))


def q_minhash_signatures(spark, sf_dir):
    return dedup.minhash_signatures(load_table(spark, sf_dir, "documents"))


def q_minhash_lsh_pairs(spark, sf_dir):
    # CAP ASSUMPTION (ADVICE r4): runs with the DEFAULT max_bucket=100k
    # guard while the DuckDB oracle is unguarded — parity holds because no
    # sf0.01/sf0.1 band cell approaches 100k ids. A sweep at a SF whose
    # cells exceed the cap would diff here by design (guard, not kernel bug);
    # pass max_bucket=None to replay the oracle exactly at any SF.
    return dedup.lsh_candidate_pairs(load_table(spark, sf_dir, "documents"))


def q_ngram_jaccard(spark, sf_dir):
    return dedup.ngram_jaccard_pairs(load_table(spark, sf_dir, "documents"))


def q_ngram_containment(spark, sf_dir):
    """Broder containment (asymmetric overlap — the quote/subset detector)
    over the same LSH candidate pairs as ngram_jaccard; 4dp both sides."""
    return dedup.ngram_containment_pairs(load_table(spark, sf_dir, "documents"))


def q_simhash_groups(spark, sf_dir):
    return dedup.simhash_duplicate_groups(load_table(spark, sf_dir, "documents"))


def q_simhash_candidates(spark, sf_dir):
    # same CAP ASSUMPTION as q_minhash_lsh_pairs (guarded vs unguarded oracle)
    return dedup.simhash_candidates(load_table(spark, sf_dir, "documents"))


def q_neardup_groups(spark, sf_dir):
    # the end-to-end dedup op: LSH → Jaccard ≥ 0.8 verify → CC closure
    return dedup.neardup_groups(load_table(spark, sf_dir, "documents"), threshold=0.8)


def q_stream_neardup_batch(spark, sf_dir):
    """Batch form of the streaming near-dup operator (the unified
    batch/stream contract — the SAME logical plan runs watermarked on a
    stream; stream==batch tested in test_streaming.py). Event time is
    synthesized deterministically from doc_id (the driver documents table
    carries none); every doc falls inside one join window here, so the
    time condition is exercised but not selective."""
    from tric_spark.streaming.neardup import stream_neardup_candidates

    docs = load_table(spark, sf_dir, "documents").withColumn(
        "ts", F.timestamp_seconds(F.lit(1_700_000_000) + F.col("doc_id") % 120)
    )
    return stream_neardup_candidates(docs).select("a", "b", "band_idx")


def q_dedup_exact_kept(spark, sf_dir):
    return dedup.dedup_exact(load_table(spark, sf_dir, "documents")).select(
        "doc_id", "text", "lang", "source", "n_chars"
    )


def q_weighted_pagerank_iter2(spark, sf_dir):
    from tric_spark.operators.pagerank import weighted_pagerank

    canon, sym, verts, deg = _graph_tables(spark, sf_dir)
    # deterministic per-direction weights derived from the edge ids, so the
    # SQL oracle replays them exactly (no overflow: ids < 10^7)
    dw = sym.withColumn(
        "weight", (F.lit(1) + F.pmod(F.col("src") * 7 + F.col("dst") * 13, F.lit(5))).cast("double")
    )
    r = weighted_pagerank(dw, verts, d=0.85, tol=0.0, max_iter=2)
    return r.select("vid", F.round("rank", 6).alias("rank"))


def q_ann_topk(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.ann_bruteforce_topk(emb, emb.filter(F.col("vec_id") < 3), k=5)


def q_embedding_neardup(spark, sf_dir):
    # LSH-bucketed default — the scale path, oracle replays the buckets;
    # same CAP ASSUMPTION as q_minhash_lsh_pairs (guarded vs unguarded oracle)
    return similarity.embedding_neardup_pairs(
        load_table(spark, sf_dir, "embeddings"), threshold=0.4
    )


def q_embedding_neardup_exact(spark, sf_dir):
    # explicit exact all-pairs baseline (opt-in; test-scale only)
    return similarity.embedding_neardup_pairs(
        load_table(spark, sf_dir, "embeddings"), threshold=0.4, use_lsh=False
    )


def q_lm_perplexity(spark, sf_dir):
    """CCNet-style quality signal: add-k bigram LM perplexity, self-scored
    on the documents corpus (docs whose transitions are unlike the corpus
    score high). avg_nll / ppl 6dp-rounded on both engines."""
    from tric_spark.operators.lm_score import lm_perplexity

    return lm_perplexity(load_table(spark, sf_dir, "documents"))


def q_collocations(spark, sf_dir):
    """Corpus top-20 collocations by PMI (min bigram count 5), ranked on
    the 6dp-rounded score with (v, w) tie-break — collocation extraction
    over the documents table."""
    from tric_spark.operators.lm_score import collocations_topk

    return collocations_topk(load_table(spark, sf_dir, "documents"), k=20)


def q_gopher_filter(spark, sf_dir):
    """Gopher-rules quality gate (Rae et al. 2021 Table A1 shape) over the
    documents table: token/mean-word-length/stopword/repetition signals,
    per-rule failure count, keep flag. Thresholds tuned to the synthetic
    corpus so both verdicts occur (the oracle replays the rounded-signal
    boundaries exactly)."""
    from tric_spark.operators.quality_filter import gopher_quality_filter

    return gopher_quality_filter(load_table(spark, sf_dir, "documents"))


def q_tfidf_terms(spark, sf_dir):
    """Per-document top-3 characteristic terms by smoothed TF-IDF
    (idf = ln((N+1)/(df+1)) + 1), ranked on the 6dp-rounded score with
    token tie-break — keyword extraction over the documents table."""
    from tric_spark.operators.textstats import tfidf_topk_terms

    return tfidf_topk_terms(load_table(spark, sf_dir, "documents"), k=3)


def q_katz_iter3(spark, sf_dir):
    """Katz centrality (α=0.1, β=1) over the DIRECTED doc graph, fixed 3
    supersteps so the DuckDB oracle unrolls exactly; 6dp rounding both
    sides. Single-join superstep (no dangling broadcast) — chains freely."""
    from tric_spark.operators.katz import katz_centrality
    from tric_spark.sources.doc_graph import doc_edges_directed

    directed = doc_edges_directed(spark, sf_dir)
    verts = load_table(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("vid")
    )
    r = katz_centrality(directed, verts, alpha=0.1, beta=1.0, tol=0.0, max_iter=3)
    return r.select("vid", F.round("rank", 6).alias("rank"))


def q_adamic_adar(spark, sf_dir):
    """Neighborhood-overlap link prediction over the undirected doc graph:
    common-neighbor count, Adamic–Adar Σ1/ln(deg z), resource allocation
    Σ1/deg(z) in one wedge plan, pairs sharing ≥ 2 neighbors. AA/RA rounded
    6dp on both sides (ln is not bit-identical across engines). CAP
    ASSUMPTION: Spark runs the default max_fanout=100k pivot guard, the
    oracle is unguarded — sf degrees are orders of magnitude below it."""
    from tric_spark.operators.linkpred import link_prediction_scores

    _, sym, _, _ = _graph_tables(spark, sf_dir)
    return link_prediction_scores(sym, min_common=2)


def q_weighted_sample(spark, sf_dir):
    """Efraimidis–Spirakis weighted sample without replacement: top-50
    documents by the 6dp-rounded A-ES key u^(1/n_chars) (deterministic md5
    uniform, ties by doc_id) — the quality-weighted corpus-selection
    primitive. Distributed TakeOrderedAndProject; never a global sort."""
    from tric_spark.operators.sampling import weighted_sample

    docs = load_table(spark, sf_dir, "documents")
    return weighted_sample(docs, 50, "n_chars", "doc_id").select(
        "doc_id", "es_key"
    )


def q_weighted_sample_per_lang(spark, sf_dir):
    """Per-language stratified A-ES sample (10 docs per lang, weight =
    n_chars): the data-mix shape — window top-k per stratum on the same
    shared md5 uniform as the flat sample."""
    from tric_spark.operators.sampling import weighted_sample_stratified

    docs = load_table(spark, sf_dir, "documents")
    return weighted_sample_stratified(
        docs, 10, "n_chars", "doc_id", "lang"
    ).select("doc_id", "lang", "es_key")


def q_semantic_dedup(spark, sf_dir):
    """SemDeDup (Abbas et al. 2023) over the embeddings table: IVF k-means
    cells (16 centroids, 1 Lloyd refine — the exact quantizer ann_ivf_topk
    replays), within-cell pairs at 6dp-rounded cosine ≥ 0.4, hash-min CC
    closure, rep = min vec_id. CAP ASSUMPTION (same as q_minhash_lsh_pairs):
    Spark runs the default max_cell=100k guard, the oracle is unguarded —
    parity holds because sf cells are ~31 ids, far below the cap."""
    from tric_spark.operators.semdedup import semantic_dedup

    emb = load_table(spark, sf_dir, "embeddings")
    return semantic_dedup(emb, threshold=0.4, n_centroids=16, refine=1)


def q_events_hourly(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy(
        F.date_trunc("hour", "ts").alias("hour"), "event_type"
    ).agg(F.count("*").alias("n"), F.round(F.sum("value"), 4).alias("sum_value"))


def q_ann_lsh_topk(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.ann_lsh_topk(emb, emb.filter(F.col("vec_id") < 3), k=5)


def q_ann_ivf_topk(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.ann_ivf_topk(emb, emb.filter(F.col("vec_id") < 3), k=5)


def q_pagerank_converged(spark, sf_dir):
    """Convergence-mode kernel run to a tolerance far below the 6dp output
    rounding (max|Δrank| < 1e-13 puts the iterate within ~6e-13 of the
    fixpoint by the 0.85-contraction), so the oracle's deep unrolled power
    iteration — itself fixpoint to ~1e-17 after 220 rounds — rounds to the
    same 6dp table."""
    canon, sym, verts, deg = _graph_tables(spark, sf_dir)
    r = pagerank(sym, verts, tol=1e-13, max_iter=250)
    return r.select("vid", F.round("rank", 6).alias("rank"))


def q_host_edges(spark, sf_dir):
    """Host-graph rollup: the page-level directed link graph collapsed by
    the documents' ``source`` (the host key of this corpus) — one weighted
    edge per ordered host pair, intra-host links dropped."""
    from tric_spark.operators.hostgraph import collapse_edges
    from tric_spark.sources.doc_graph import doc_edges_directed

    docs = load_table(spark, sf_dir, "documents")
    groups = docs.select(F.col("doc_id").alias("vid"), F.col("source").alias("grp"))
    he = collapse_edges(doc_edges_directed(spark, sf_dir), groups)
    return he.select(
        F.col("src_grp").alias("src_host"),
        F.col("dst_grp").alias("dst_host"),
        "n_links",
    )


def _host_graph(spark, sf_dir):
    from tric_spark.operators.hostgraph import collapse_edges
    from tric_spark.sources.doc_graph import doc_edges_directed

    docs = load_table(spark, sf_dir, "documents")
    groups = docs.select(F.col("doc_id").alias("vid"), F.col("source").alias("grp"))
    he = collapse_edges(doc_edges_directed(spark, sf_dir), groups).select(
        F.col("src_grp").alias("src_host"),
        F.col("dst_grp").alias("dst_host"),
        "n_links",
    )
    hosts = docs.select(F.col("source").alias("vid")).distinct()
    return he, hosts


def q_host_pagerank_iter2(spark, sf_dir):
    """Host-level PageRank (weighted by page-link counts, directed), fixed
    2 iterations for the unrolled oracle; the SQL replays the weighted
    kernel's dangling fold exactly (dm/n uniform redistribution)."""
    from tric_spark.operators.hostgraph import host_pagerank

    he, hosts = _host_graph(spark, sf_dir)
    r = host_pagerank(he, hosts, tol=0.0, max_iter=2)
    return r.select(
        F.col("vid").alias("host"), F.round("rank", 6).alias("rank")
    )


def q_trustrank_iter2(spark, sf_dir):
    """Host-level TrustRank (Gyöngyi et al., VLDB'04): weighted PageRank
    whose teleport vector is the deterministic md5-digit trusted-seed
    subset of hosts; 2 fixed iterations for the unrolled oracle. Dangling
    mass teleports back to the seeds (∝ e), replayed exactly in SQL."""
    from tric_spark.operators.trustrank import host_trustrank, trusted_seed_hosts

    he, hosts = _host_graph(spark, sf_dir)
    r = host_trustrank(he, hosts, trusted_seed_hosts(hosts), tol=0.0, max_iter=2)
    return r.select(F.col("vid").alias("host"), F.round("rank", 6).alias("rank"))


def q_anti_trustrank_iter2(spark, sf_dir):
    """BadRank-style anti-TrustRank: TrustRank on the REVERSED host graph
    seeded by the deterministic md5-digit blacklist (≥ 12, disjoint from
    the trusted < 4 set) — distrust flows backward along in-links, so
    hosts linking into the blacklist accumulate it."""
    from tric_spark.operators.trustrank import anti_trustrank, spam_seed_hosts

    he, hosts = _host_graph(spark, sf_dir)
    dw = he.select(
        F.col("src_host").alias("src"),
        F.col("dst_host").alias("dst"),
        F.col("n_links").cast("double").alias("weight"),
    )
    r = anti_trustrank(dw, hosts, spam_seed_hosts(hosts), tol=0.0, max_iter=2)
    return r.select(F.col("vid").alias("host"), F.round("rank", 6).alias("rank"))


def q_spam_mass_hosts(spark, sf_dir):
    """Spam-mass estimation (Gyöngyi et al., VLDB'06): per host, uniform-
    teleport PageRank vs trusted-seed TrustRank at the same fixed 2
    iterations; mass = PR − TR and rel_mass = mass/PR computed on the
    unrounded doubles, 6dp-rounded for the hash gate."""
    from tric_spark.operators.hostgraph import host_pagerank
    from tric_spark.operators.trustrank import (
        host_trustrank,
        spam_mass,
        trusted_seed_hosts,
    )

    he, hosts = _host_graph(spark, sf_dir)
    pr = host_pagerank(he, hosts, tol=0.0, max_iter=2)
    tr = host_trustrank(he, hosts, trusted_seed_hosts(hosts), tol=0.0, max_iter=2)
    sm = spam_mass(pr, tr)
    return sm.select(
        F.col("vid").alias("host"),
        F.round("pr", 6).alias("pr"),
        F.round("tr", 6).alias("tr"),
        F.round("mass", 6).alias("mass"),
        F.round("rel_mass", 6).alias("rel_mass"),
    )


def q_betweenness(spark, sf_dir):
    """Pivot-sampled Brandes betweenness (Brandes & Pich 2007) over the
    undirected doc graph: deterministic pivots vid % 41 == 0, BFS + σ
    counting + dependency back-propagation all replayed level-by-level by
    the unrolled oracle; both sides truncate at max_depth=10, so parity
    holds at any diameter. σ/δ ride as DOUBLE on both engines."""
    from tric_spark.operators.betweenness import betweenness_approx

    canon, sym, verts, deg = _graph_tables(spark, sf_dir)
    piv = verts.filter(F.col("vid") % 41 == 0)
    r = betweenness_approx(sym, verts, piv, max_depth=10)
    return r.select("vid", F.round("bc", 6).alias("bc"))


def q_powerlaw_alpha(spark, sf_dir):
    """Clauset–Shalizi–Newman continuous-MLE power-law exponent of the doc
    graph's degree distribution (tail d ≥ 2, ½-shift correction) — the
    standard web-graph measurement, one aggregate."""
    from tric_spark.operators.digraph_stats import powerlaw_alpha

    canon, sym, verts, deg = _graph_tables(spark, sf_dir)
    return powerlaw_alpha(deg, d_min=2)


def q_sssp_weighted(spark, sf_dir):
    """Weighted multi-source shortest paths (Bellman–Ford supersteps) over
    the DIRECTED doc graph with deterministic weights (src+dst) % 7 + 1;
    sources = doc_id % 97 == 0. Both sides bound at 16 rounds (sf0.01
    converges in 10; exhausted rounds are no-ops)."""
    from tric_spark.operators.sssp import shortest_paths
    from tric_spark.sources.doc_graph import doc_edges_directed

    directed = doc_edges_directed(spark, sf_dir)
    ew = directed.select(
        "src", "dst", ((F.col("src") + F.col("dst")) % 7 + 1).alias("weight")
    )
    srcs = load_table(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("vid")
    ).filter(F.col("vid") % 97 == 0)
    return shortest_paths(ew, srcs, max_rounds=16)


def q_resolve_redirects(spark, sf_dir):
    """Redirect-chain resolution by pointer doubling: synthetic redirect
    map src = docs with doc_id % 3 == 1, target = (13·id + 7) mod n
    (chains up to 5 hops at sf0.01, no cycles — the cycle path is
    unit-tested); both sides run 8 doubling rounds."""
    from tric_spark.operators.redirects import resolve_redirects

    docs = load_table(spark, sf_dir, "documents")
    n = docs.count()
    red = docs.select(
        F.col("doc_id").alias("src"),
        ((F.col("doc_id") * 13 + 7) % n).alias("dst"),
    ).filter((F.col("src") % 3 == 1) & (F.col("src") != F.col("dst")))
    return resolve_redirects(red, max_doublings=8)


def q_multi_ppr_iter2(spark, sf_dir):
    """Batch personalized PageRank: THREE seed sets (vid % 50 = 0/1/2)
    advance together in one (set_id, vid)-keyed state over the undirected
    doc graph — the topic-sensitive/per-user serving shape. Fixed 2
    supersteps; the sym graph has no dangling vertices, so the oracle's
    per-set unroll needs no dangling term."""
    from tric_spark.operators.mppr import multi_personalized_pagerank

    canon, sym, verts, deg = _graph_tables(spark, sf_dir)
    seed_rows = verts.filter(F.col("vid") % 50 <= 2).select(
        (F.col("vid") % 50).alias("set_id"), "vid"
    )
    r = multi_personalized_pagerank(sym, verts, seed_rows, tol=0.0, max_iter=2)
    return r.select("set_id", "vid", F.round("rank", 6).alias("rank"))


def q_mis(spark, sf_dir):
    """Luby maximal independent set over the undirected doc graph:
    md5-deterministic round priorities, replayed round-by-round by the
    unrolled oracle. Both sides bound at 8 rounds (the sf0.01 graph
    finishes in 3; exhausted rounds are empty no-ops, so parity holds)."""
    from tric_spark.operators.mis import maximal_independent_set

    canon, sym, verts, deg = _graph_tables(spark, sf_dir)
    return maximal_independent_set(sym, verts, seed=42, max_rounds=8)


def q_coloring(spark, sf_dir):
    """Jones–Plassmann vertex coloring over the undirected doc graph:
    static md5 priorities, ready-when-local-minimum, mex of colored
    neighbors. Both sides bound at 24 rounds (the sf0.01 graph finishes in
    14; exhausted rounds are empty no-ops)."""
    from tric_spark.operators.mis import jones_plassmann_coloring

    canon, sym, verts, deg = _graph_tables(spark, sf_dir)
    return jones_plassmann_coloring(sym, verts, seed=42, max_rounds=24)


def q_lp_modularity(spark, sf_dir):
    """Newman modularity of the 2-iteration label-propagation partition
    over the undirected doc graph — the community-quality acceptance
    metric, one row (modularity, n_communities, m_edges)."""
    from tric_spark.operators.lp import label_propagation
    from tric_spark.operators.modularity import modularity

    canon, sym, verts, deg = _graph_tables(spark, sf_dir)
    labels = label_propagation(sym, verts, num_iter=2)
    return modularity(sym, labels)


def q_harmonic_closeness(spark, sf_dir):
    """Pivot-sampled harmonic closeness (Eppstein–Wang estimator, harmonic
    variant per Boldi–Vigna) over the undirected doc graph: deterministic
    pivots vid % 41 == 0 (the betweenness rule), BFS truncated at
    max_depth=10 on both engines, (n/k)-scaled Σ1/d rounded 6dp."""
    from tric_spark.operators.closeness import harmonic_closeness_approx

    canon, sym, verts, deg = _graph_tables(spark, sf_dir)
    piv = verts.filter(F.col("vid") % 41 == 0)
    return harmonic_closeness_approx(sym, verts, piv, max_depth=10)


def q_crawl_frontier(spark, sf_dir):
    """Crawl-frontier prioritization (Cho/Garcia-Molina WWW'98): docs with
    doc_id % 7 == 0 stand in for the UNCRAWLED frontier; PageRank (2 fixed
    iterations) over the crawled-induced subgraph; each frontier target
    scored by the rank mass its crawled in-linkers push at it (full-outdeg
    denominators); top-5 per host under the politeness budget. Ordering
    uses the 6dp-rounded score + vid tiebreak on both engines."""
    from tric_spark.operators.frontier import (
        frontier_scores,
        frontier_topk_per_host,
    )
    from tric_spark.sources.doc_graph import doc_edges_directed

    docs = load_table(spark, sf_dir, "documents")
    directed = doc_edges_directed(spark, sf_dir)
    crawled = docs.filter(F.col("doc_id") % 7 != 0).select(
        F.col("doc_id").alias("vid")
    )
    e_c = directed.join(crawled.withColumnRenamed("vid", "src"), "src")
    induced = e_c.join(crawled.withColumnRenamed("vid", "dst"), "dst").select(
        "src", "dst"
    )
    pr = pagerank(induced, crawled, tol=0.0, max_iter=2)
    scores = frontier_scores(directed, crawled, pr)
    host_map = docs.select(
        F.col("doc_id").alias("vid"), F.col("source").alias("host")
    )
    return frontier_topk_per_host(scores, host_map, k=5)


def q_crawl_schedule(spark, sf_dir):
    """The q_crawl_frontier scores laid into per-host politeness fetch
    waves (rate=3 fetches/host/round) — slot + wave per frontier URL."""
    from tric_spark.operators.frontier import (
        frontier_scores,
        politeness_schedule,
    )
    from tric_spark.sources.doc_graph import doc_edges_directed

    docs = load_table(spark, sf_dir, "documents")
    directed = doc_edges_directed(spark, sf_dir)
    crawled = docs.filter(F.col("doc_id") % 7 != 0).select(
        F.col("doc_id").alias("vid")
    )
    e_c = directed.join(crawled.withColumnRenamed("vid", "src"), "src")
    induced = e_c.join(crawled.withColumnRenamed("vid", "dst"), "dst").select(
        "src", "dst"
    )
    pr = pagerank(induced, crawled, tol=0.0, max_iter=2)
    scores = frontier_scores(directed, crawled, pr)
    host_map = docs.select(
        F.col("doc_id").alias("vid"), F.col("source").alias("host")
    )
    return politeness_schedule(scores, host_map, per_host_rate=3)


def q_mst_forest(spark, sf_dir):
    """Borůvka minimum spanning forest over the canonical doc graph with
    (src+dst)%7+1 weights — unique under the (w, src, dst) total order,
    replayed round-for-round by the unrolled oracle."""
    from tric_spark.operators.mst import minimum_spanning_forest

    canon, sym, verts, deg = _graph_tables(spark, sf_dir)
    we = canon.select(
        "src", "dst", ((F.col("src") + F.col("dst")) % 7 + 1).alias("weight")
    )
    return minimum_spanning_forest(we)


def q_single_linkage(spark, sf_dir):
    """Single-linkage clustering at τ=3 over the weighted doc graph via
    the MST (Gower–Ross): the Spark side runs CC over the ≤τ FOREST
    edges; the oracle runs CC over the τ-filtered ORIGINAL graph — two
    different algorithms whose agreement is the dendrogram property."""
    from tric_spark.operators.mst import single_linkage_clusters

    canon, sym, verts, deg = _graph_tables(spark, sf_dir)
    we = canon.select(
        "src", "dst", ((F.col("src") + F.col("dst")) % 7 + 1).alias("weight")
    )
    return single_linkage_clusters(we, threshold=3)


def q_densest_core(spark, sf_dir):
    """Max-core induced subgraph density (the degeneracy ½-approx of the
    densest subgraph) — peeling loop + one broadcast max + two semi-joins."""
    from tric_spark.operators.kcore import densest_core

    canon, sym, verts, deg = _graph_tables(spark, sf_dir)
    return densest_core(sym)


def q_kmeans_assign(spark, sf_dir):
    """Lloyd k-means assignments over the embeddings table (k=8, 4 fixed
    supersteps, md5 init) — the trajectory is deterministic so the oracle
    replays it iteration-for-iteration."""
    from tric_spark.operators.kmeans import kmeans

    emb = load_table(spark, sf_dir, "embeddings")
    assign, _ = kmeans(emb, k=8, iters=4, seed=42)
    return assign


def q_kmeans_clusters(spark, sf_dir):
    """Cluster-size + within-cluster-SSE readout of the same k-means run
    (the Lloyd objective per cluster)."""
    from tric_spark.operators.kmeans import kmeans, kmeans_summary

    emb = load_table(spark, sf_dir, "embeddings")
    assign, _ = kmeans(emb, k=8, iters=4, seed=42)
    return kmeans_summary(assign)


def q_length_quantiles(spark, sf_dir):
    """EXACT doc-length percentiles via the value-histogram + cumulative
    window (cardinality-bounded, not row-bounded) — the scalable exact
    alternative to driver-side approxQuantile."""
    return textstats.exact_quantiles(
        load_table(spark, sf_dir, "documents"), "n_chars", (25, 50, 75, 90, 99)
    )


def q_mix_weights(spark, sf_dir):
    """GPT-3/PaLM-style temperature-scaled source sampling weights:
    w_s ∝ tokens_s^0.7, one groupBy + one broadcast normalizer."""
    return textstats.source_mix_weights(
        load_table(spark, sf_dir, "documents"), alpha=0.7
    )


def q_rp_project(spark, sf_dir):
    """Johnson–Lindenstrauss ±1 random projection 64→16 dims (map-only,
    driver-side matrix literals, zero per-row hashing) — flattened to
    columns for the hash gate, same convention as minhash_signatures."""
    pr = similarity.rp_project(
        load_table(spark, sf_dir, "embeddings"), out_dims=16
    )
    return pr.select(
        "vec_id", *[F.col("proj")[i].alias(f"p{i}") for i in range(16)]
    )


def q_rp_kmeans(spark, sf_dir):
    """The 100-TB clustering recipe end-to-end: JL-project 64→16 dims
    (map-only), then Lloyd k-means in the reduced space — 4× less state
    per centroid broadcast and 4× cheaper distances; the 6dp-rounded
    projection makes the composed trajectory oracle-replayable."""
    from tric_spark.operators.kmeans import kmeans

    emb = load_table(spark, sf_dir, "embeddings")
    proj = similarity.rp_project(emb, out_dims=16).select(
        "vec_id", F.col("proj").alias("embedding")
    )
    assign, _ = kmeans(proj, k=8, iters=2, seed=42)
    return assign


def q_triangles_list(spark, sf_dir):
    """Triangle ENUMERATION (not just the count): the id-oriented wedge
    join emits one (i,j,k) row per triangle, i<j<k — the _TRI oracle CTE
    read out directly."""
    from tric_spark.operators.tc import triangles_join

    canon, *_ = _graph_tables(spark, sf_dir)
    return triangles_join(canon)


def q_pack_sequences(spark, sf_dir):
    """GPT-style concat-and-split sequence packing (capacity 256) over
    per-host token streams in deterministic (md5(doc_id), doc_id) order —
    the pretraining-batch index as a table."""
    from tric_spark.operators.packing import pack_sequences

    docs = load_table(spark, sf_dir, "documents")
    return pack_sequences(docs, capacity=256)


def q_packing_stats(spark, sf_dir):
    """Per-host packing-efficiency readout (docs, tokens, bins,
    fill_ratio) over the capacity-256 packing."""
    from tric_spark.operators.packing import pack_sequences, packing_stats

    docs = load_table(spark, sf_dir, "documents")
    return packing_stats(pack_sequences(docs, capacity=256), capacity=256)


def q_random_walks(spark, sf_dir):
    """4-step md5-seeded walks from every vertex — every hop replayed
    verbatim by the unrolled oracle (sorted adjacency + hex-parsed md5
    index are engine-portable)."""
    from tric_spark.operators.walks import random_walks

    canon, sym, verts, deg = _graph_tables(spark, sf_dir)
    return random_walks(sym, num_steps=4)


def q_biased_walks(spark, sf_dir):
    """node2vec (p=2, q=0.5) second-order biased walks — integer-scaled
    weights and a 12-hex md5 threshold make every weighted draw exact
    integer math, replayed by the unnest+cumsum+QUALIFY oracle."""
    from tric_spark.operators.walks import biased_walks

    canon, sym, verts, deg = _graph_tables(spark, sf_dir)
    return biased_walks(sym, num_steps=4, p=2.0, q=0.5)


def q_mc_pagerank(spark, sf_dir):
    """Monte-Carlo PageRank: md5-deterministic terminate/hop coins,
    visits → rank_est = visits·(1-c)/n_walks; the oracle replays the
    identical truncated walk ensemble."""
    from tric_spark.operators.walks import mc_pagerank

    canon, sym, verts, deg = _graph_tables(spark, sf_dir)
    return mc_pagerank(sym, c=0.85, walks_per_vertex=2, max_steps=6)


def q_walk_cooccurrence(spark, sf_dir):
    """Skip-gram co-occurrence pairs over the deterministic walk corpus
    (node2vec/DeepWalk preprocessing) — the windowed self-join replayed
    on the same unrolled trajectory oracle."""
    from tric_spark.operators.walks import walk_cooccurrence

    canon, sym, verts, deg = _graph_tables(spark, sf_dir)
    return walk_cooccurrence(sym, num_steps=4, window=2)


def q_neighborhood2(spark, sf_dir):
    """Exact 2-hop neighborhood sizes — the exact companion of HyperANF."""
    from tric_spark.operators.anf import k_hop_counts

    canon, sym, verts, deg = _graph_tables(spark, sf_dir)
    return k_hop_counts(sym, k=2)


def q_anf_curve(spark, sf_dir):
    """HyperANF neighborhood function N(h), h=0..6 — md5-seeded HLL
    registers make the WHOLE approximate algorithm (init, max-merge
    supersteps, bias-corrected estimate incl. the linear-counting branch)
    bit-replayable in SQL; 6dp rounding absorbs the global-sum order."""
    from tric_spark.operators.anf import hyper_anf

    canon, sym, verts, deg = _graph_tables(spark, sf_dir)
    return hyper_anf(sym, verts, max_h=6)


def q_related_hosts(spark, sf_dir):
    """Related SITES: co-citation over the host-graph rollup (hosts cited
    together by ≥ 2 common source hosts) — the site-level companion to
    related_pages, one wedge plan over the collapsed graph."""
    from tric_spark.operators.cocitation import cocitation_pairs

    he, hosts = _host_graph(spark, sf_dir)
    directed = he.select(
        F.col("src_host").alias("src"), F.col("dst_host").alias("dst")
    )
    return cocitation_pairs(directed, min_common=2)


def q_hll_distinct_tokens(spark, sf_dir):
    """Standalone HLL distinct-count of corpus tokens (the oracle-
    replayable approx_count_distinct) — one 16-max aggregation pass."""
    from tric_spark.operators.anf import hll_count_distinct
    from tric_spark.operators.textstats import tokens_col

    toks = load_table(spark, sf_dir, "documents").select(
        F.explode(F.filter(tokens_col(), lambda t: t != F.lit(""))).alias("x")
    )
    return hll_count_distinct(toks, "x")


def q_cms_heavy_hitters(spark, sf_dir):
    """Count-Min-sketch top-10 corpus tokens with the exact counts
    alongside (est ≥ exact always; equal when buckets are collision-light
    at width 1024). The md5 bucket rule replays verbatim in DuckDB."""
    from tric_spark.operators.sketches import cms_heavy_hitters

    return cms_heavy_hitters(
        load_table(spark, sf_dir, "documents"), k=10, width=1024, depth=4
    )


def q_clustering_by_degree(spark, sf_dir):
    """c(k) curve — mean local clustering per degree class (the
    hierarchical-modularity signature, Ravasz–Barabási 2003); averages the
    6dp-rounded per-vertex lcc so both engines fold identical inputs."""
    canon, sym, verts, deg = _graph_tables(spark, sf_dir)
    oriented = graph.orient_by_degree(canon, deg)
    return tc.clustering_by_degree(oriented, deg)


def q_host_distribution(spark, sf_dir):
    """Corpus domain-mix concentration (entropy / HHI / top-1 share over
    the source column) — the sort-free balance diagnostics a data-mix
    pipeline gates on."""
    from tric_spark.operators.textstats import host_distribution

    return host_distribution(load_table(spark, sf_dir, "documents"))


def q_tpch_q1(spark, sf_dir):
    """TPC-H Q1-shape pricing summary over lineitem (the relational-
    checklist exerciser on the non-graph tables): filter pushes to the
    scan, one map-side-combined groupBy, money sums rounded 4dp / avgs
    6dp on both engines."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= F.lit("1998-09-01").cast("timestamp")
    )
    disc = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 4).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 4).alias("sum_base_price"),
            F.round(F.sum(disc), 4).alias("sum_disc_price"),
            F.round(F.sum(disc * (1 + F.col("l_tax"))), 4).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


def q_tpch_q3(spark, sf_dir):
    """TPC-H Q3-shape shipping priority: BUILDING-segment orders placed
    before 1998-03-15 with lineitems shipped after it, top-10 open-order
    revenue (rounded 4dp; orderkey tie-break)."""
    cut = F.lit("1998-03-15").cast("timestamp")
    cust = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    orders = load_table(spark, sf_dir, "orders").filter(F.col("o_orderdate") < cut)
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > cut)
    return (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(cust, orders["o_custkey"] == cust["c_custkey"], "left_semi")
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
            ).alias("revenue")
        )
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
    )


def q_tpch_q5(spark, sf_dir):
    """TPC-H Q5-shape local supplier volume: revenue per EUROPE nation from
    1996 orders where customer and supplier share the nation — the
    multi-way broadcast-dim join exerciser (region/nation broadcast; the
    fact joins shuffle)."""
    region = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    nation = load_table(spark, sf_dir, "nation").join(
        F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey")
    )
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier")
    return (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(cust, orders["o_custkey"] == cust["c_custkey"])
        .join(
            supp,
            (li["l_suppkey"] == supp["s_suppkey"])
            & (cust["c_nationkey"] == supp["s_nationkey"]),
        )
        .join(F.broadcast(nation), supp["s_nationkey"] == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
            ).alias("revenue")
        )
    )


def q_effective_diameter(spark, sf_dir):
    """Interpolated 0.9-effective diameter from the HyperANF curve — the
    standard web-graph readout (Palmer KDD'02 / Boldi WWW'11), derived
    in-plan (no collect) from the 6dp-rounded curve so both engines
    interpolate from identical inputs."""
    from tric_spark.operators.anf import (
        effective_diameter_from_curve,
        hyper_anf,
    )

    canon, sym, verts, deg = _graph_tables(spark, sf_dir)
    curve = hyper_anf(sym, verts, max_h=6).select(
        "h", F.round("nf", 6).alias("nf")
    )
    return effective_diameter_from_curve(curve, ratio=0.9)


def q_sample_stratified(spark, sf_dir):
    """Deterministic per-language data-mix sampling (md5-bucketed keys,
    integer thresholds — no float boundary on either engine)."""
    from tric_spark.operators.sampling import stratified_sample

    docs = load_table(spark, sf_dir, "documents")
    out = stratified_sample(
        docs,
        {"en": 0.5, "de": 0.25, "fr": 0.1, "es": 1.0, "zh": 0.75},
        strata_col="lang",
        key_col="doc_id",
        default_rate=0.05,
    )
    return out.select("doc_id", "lang", "source")


def q_repetition_metrics(spark, sf_dir):
    """Gopher-style repetition quality signals over the full corpus: char
    fraction of the top word 2-gram and of all duplicated word 3-grams —
    every doc appears, shorts score 0.0 (Rae et al. 2021 Table A1)."""
    from tric_spark.operators.repetition import repetition_metrics

    return repetition_metrics(load_table(spark, sf_dir, "documents"))


def q_contamination(spark, sf_dir):
    """Benchmark-contamination screen: docs with doc_id % 97 == 0 stand in
    for the held-out benchmark; every remaining doc sharing a token 3-gram
    with it is flagged with its distinct-gram hit count."""
    from tric_spark.operators.contamination import contaminated_docs

    docs = load_table(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 97 == 0)
    corpus = docs.filter(F.col("doc_id") % 97 != 0)
    return contaminated_docs(corpus, bench, ngram=3)


def q_vocabulary(spark, sf_dir):
    """Corpus top-50 vocabulary with occurrence and document frequencies —
    deterministic under the (count desc, token asc) total order."""
    from tric_spark.operators.textstats import vocabulary

    return vocabulary(load_table(spark, sf_dir, "documents"), k=50)


def q_reciprocity(spark, sf_dir):
    """Link reciprocity of the DIRECTED doc graph — one row (n_edges,
    n_reciprocal, reciprocity)."""
    from tric_spark.operators.digraph_stats import reciprocity
    from tric_spark.sources.doc_graph import doc_edges_directed

    return reciprocity(doc_edges_directed(spark, sf_dir))


def q_assortativity(spark, sf_dir):
    """Degree assortativity (Newman 2002) of the undirected doc graph —
    Pearson corr of endpoint degrees over both edge orientations; sample/
    population normalization cancels inside corr, so Spark and DuckDB
    agree at 6dp."""
    from tric_spark.operators.digraph_stats import degree_assortativity

    canon, sym, verts, deg = _graph_tables(spark, sf_dir)
    return degree_assortativity(sym, deg)


def q_hits_iter2(spark, sf_dir):
    """HITS over the DIRECTED doc link graph (direction kept — hub and
    authority scores are only distinct on a directed input). Fixed 2
    iterations so the DuckDB oracle unrolls exactly; 6dp rounding on both
    sides absorbs float summation-order differences (CLAUDE.md rule)."""
    from tric_spark.operators.hits import hits
    from tric_spark.sources.doc_graph import doc_edges_directed

    directed = doc_edges_directed(spark, sf_dir)
    verts = load_table(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("vid")
    )
    r = hits(directed, verts, tol=0.0, max_iter=2)
    return r.select(
        "vid", F.round("hub", 6).alias("hub"), F.round("auth", 6).alias("auth")
    )


def q_salsa_iter2(spark, sf_dir):
    """SALSA over the DIRECTED doc link graph — HITS's stochastic repair
    (Lempel & Moran 2001): each half-step divides by the summed endpoint's
    degree and L1-normalizes, so tightly-knit communities can't capture the
    principal eigenvector. Fixed 2 iterations for the exact DuckDB unroll;
    6dp rounding on both sides."""
    from tric_spark.operators.hits import salsa
    from tric_spark.sources.doc_graph import doc_edges_directed

    directed = doc_edges_directed(spark, sf_dir)
    verts = load_table(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("vid")
    )
    r = salsa(directed, verts, tol=0.0, max_iter=2)
    # +1e-9 nudge before the 6dp round: SALSA's L1-normalized 2-iteration
    # trajectory yields small RATIONALS that land exactly on x.xxxxxx5
    # midpoints (measured: 0.0025725, 0.0006375, 0.0011425 at sf0.01),
    # where last-bit float noise flips round() run-to-run and across
    # engines; the shared nudge pins the midpoints deterministically up
    return r.select(
        "vid",
        F.round(F.col("hub") + F.lit(1e-9), 6).alias("hub"),
        F.round(F.col("auth") + F.lit(1e-9), 6).alias("auth"),
    )


def q_cocitation(spark, sf_dir):
    # CAP ASSUMPTION (same as q_minhash_lsh_pairs): Spark runs with the
    # default max_fanout=100k guard, the oracle is unguarded — parity holds
    # because no sf0.01/sf0.1 source approaches 100k out-links
    from tric_spark.operators.cocitation import cocitation_pairs
    from tric_spark.sources.doc_graph import doc_edges_directed

    return cocitation_pairs(doc_edges_directed(spark, sf_dir), min_common=2)


def q_coupling(spark, sf_dir):
    # same CAP ASSUMPTION as q_cocitation
    from tric_spark.operators.cocitation import coupling_pairs
    from tric_spark.sources.doc_graph import doc_edges_directed

    return coupling_pairs(doc_edges_directed(spark, sf_dir), min_common=2)


def q_related_pages(spark, sf_dir):
    # same CAP ASSUMPTION as q_cocitation
    from tric_spark.operators.cocitation import related_pages_topk
    from tric_spark.sources.doc_graph import doc_edges_directed

    r = related_pages_topk(doc_edges_directed(spark, sf_dir), k=3, min_common=2)
    # row_number is int32 in Spark, BIGINT in DuckDB — align for the hash
    return r.withColumn("rnk", F.col("rnk").cast("long"))


def q_segment_dedup(spark, sf_dir):
    """MassiveText/C4-style corpus passage dedup: non-overlapping 4-token
    windows, first global occurrence kept, docs reassembled in order
    (~6% of sf0.01 segments are corpus duplicates — non-trivial signal)."""
    from tric_spark.operators.segdedup import dedup_segments

    return dedup_segments(load_table(spark, sf_dir, "documents"), seg_tokens=4)


def q_duplicated_segments(spark, sf_dir):
    """Audit view of the passage-dedup pass: every non-first occurrence of
    a duplicated 4-token segment with the occurrence it duplicates."""
    from tric_spark.operators.segdedup import duplicated_segments

    return duplicated_segments(load_table(spark, sf_dir, "documents"), seg_tokens=4)


def q_scc_labels(spark, sf_dir):
    """Strongly connected components of the DIRECTED doc graph via the
    multi-pivot trim/color/extract supersteps — labels are the component's
    min vid, replayed by a mutual-reachability closure oracle."""
    from tric_spark.operators.scc import strongly_connected_components
    from tric_spark.sources.doc_graph import doc_edges_directed

    verts = load_table(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("vid")
    )
    return strongly_connected_components(doc_edges_directed(spark, sf_dir), verts)


def q_bowtie_regions(spark, sf_dir):
    """Broder bow-tie decomposition relative to the largest SCC: CORE/IN/
    OUT/TENDRIL/DISCONNECTED per vertex (WWW 2000 web-structure map)."""
    from tric_spark.operators.scc import bowtie
    from tric_spark.sources.doc_graph import doc_edges_directed

    verts = load_table(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("vid")
    )
    return bowtie(doc_edges_directed(spark, sf_dir), verts)


def q_fourcycle_count(spark, sf_dir):
    from tric_spark.operators import motifs

    _, sym, _, _ = _graph_tables(spark, sf_dir)
    return _scalar(motifs.fourcycle_count(sym), spark, "c4")


def q_fourclique_count(spark, sf_dir):
    from tric_spark.operators import motifs

    canon, _, _, deg = _graph_tables(spark, sf_dir)
    oriented = graph.orient_by_degree(canon, deg)
    return _scalar(motifs.fourclique_count(oriented, deg=deg), spark, "k4")


def q_dsir_weights(spark, sf_dir):
    from tric_spark.operators import dsir

    docs = load_table(spark, sf_dir, "documents")
    return dsir.dsir_logweights(docs, F.col("lang") == "en")


def q_dsir_topk(spark, sf_dir):
    from tric_spark.operators import dsir

    docs = load_table(spark, sf_dir, "documents")
    return dsir.dsir_select_topk(docs, F.col("lang") == "en", k=50)


def q_bloom_screen(spark, sf_dir):
    # screen non-en bigrams against a Bloom filter of the en bigram set —
    # the bounded-memory "seen before?" gate a crawl/contamination pass
    # runs before shipping the reference corpus anywhere. `hit` is the
    # sketch answer, `present` the exact one (false positives visible,
    # false negatives impossible).
    from tric_spark.operators.lm_score import _doc_bigrams
    from tric_spark.operators.sketches import bloom_build, bloom_probe

    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull()
    )

    def bigrams(d):
        return _doc_bigrams(d).select(
            F.concat_ws(" ", "v", "w").alias("token")
        ).distinct()

    en = bigrams(docs.filter(F.col("lang") == "en"))
    other = bigrams(docs.filter(F.col("lang") != "en"))
    bloom = bloom_build(en, n_bits=8192, k=4, seed=7)
    hits = bloom_probe(other, bloom, n_bits=8192, k=4, seed=7)
    return hits.join(
        en.withColumn("present", F.lit(True)), "token", "left"
    ).select(
        "token", "hit", F.coalesce("present", F.lit(False)).alias("present")
    )


def q_eigencentrality_iter3(spark, sf_dir):
    from tric_spark.operators.eigencentrality import eigenvector_centrality

    _, sym, verts, _ = _graph_tables(spark, sf_dir)
    out = eigenvector_centrality(sym, verts, tol=0, max_iter=3)
    return out.select("vid", F.round("rank", 6).alias("rank"))


def q_jaccard_linkpred(spark, sf_dir):
    # CAP ASSUMPTION: guard opt-out mirrors q_adamic_adar (the oracle is
    # unguarded; sf0.01/sf0.1 pivots sit far below DEFAULT_MAX_FANOUT)
    from tric_spark.operators.linkpred import jaccard_scores

    _, sym, _, _ = _graph_tables(spark, sf_dir)
    return jaccard_scores(sym, min_common=2, max_fanout=None)


def q_dataset_split(spark, sf_dir):
    # dyadic fractions (0.875/0.0625/0.0625): the cumulative boundaries
    # 0.875 and 0.9375 are exact binary doubles, so the Spark-side float
    # accumulation and the SQL literals are the SAME number (0.9+0.05
    # would accumulate to 0.9500000000000001 and differ from a 0.95
    # literal by one ulp)
    from tric_spark.operators.split import split_summary

    docs = load_table(spark, sf_dir, "documents")
    return split_summary(
        docs, {"train": 0.875, "val": 0.0625, "test": 0.0625}
    )


def q_event_anomalies(spark, sf_dir):
    from tric_spark.operators.anomaly import rate_anomalies

    return rate_anomalies(load_table(spark, sf_dir, "events"))


def q_postings_stats(spark, sf_dir):
    from tric_spark.operators.textsearch import postings_stats

    return postings_stats(load_table(spark, sf_dir, "documents"))


def q_phrase_search(spark, sf_dir):
    from tric_spark.operators.textsearch import phrase_counts

    return phrase_counts(
        load_table(spark, sf_dir, "documents"), ["table", "scan"]
    )


def q_bm25_search(spark, sf_dir):
    from tric_spark.operators.textsearch import bm25_topk

    return bm25_topk(
        load_table(spark, sf_dir, "documents"),
        ["spark", "query", "fast"],
        k=20,
    )


def q_tpch_q6(spark, sf_dir):
    """TPC-H Q6-shape forecast-revenue: the pure pushdown exerciser —
    every predicate must reach the parquet scan (plan-audited in
    test_plans), one projected column pair, one scalar aggregate."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
        & (F.col("l_discount") >= 0.05)
        & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24)
    )
    return li.agg(
        F.round(
            F.sum(F.col("l_extendedprice") * F.col("l_discount")), 4
        ).alias("revenue")
    )


def q_tpch_q4(spark, sf_dir):
    """TPC-H Q4-shape priority check: the EXISTS-with-correlated-predicate
    exerciser — orders in one quarter kept via a LEFT SEMI join against
    lineitem on (key match AND l_shipdate > o_orderdate); the semi join
    dedups matches for free (no distinct-count workaround). The classic
    commitdate<receiptdate predicate is adapted to the columns this
    schema carries (TESTDATA.md lineitem has shipdate only)."""
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-07-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-10-01").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    return (
        orders.join(
            li,
            (F.col("o_orderkey") == F.col("l_orderkey"))
            & (F.col("l_shipdate") > F.col("o_orderdate")),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


def q_length_quantiles(spark, sf_dir):
    """Exact per-language n_chars quantiles (linear interpolation — Spark
    percentile() and DuckDB quantile_cont share the R type-7 definition).
    The relational-checklist percentile exerciser; exact because the
    oracle demands bit-replayability — the approx_percentile scale path
    trades that for a bounded sketch."""
    docs = load_table(spark, sf_dir, "documents")
    q = F.percentile(F.col("n_chars"), F.array(*[F.lit(p) for p in (0.25, 0.5, 0.75, 0.95)]))
    return (
        docs.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.element_at(q, 1), 6).alias("p25"),
            F.round(F.element_at(q, 2), 6).alias("p50"),
            F.round(F.element_at(q, 3), 6).alias("p75"),
            F.round(F.element_at(q, 4), 6).alias("p95"),
        )
    )


def q_rich_club(spark, sf_dir):
    from tric_spark.operators.digraph_stats import rich_club

    canon, _, _, deg = _graph_tables(spark, sf_dir)
    return rich_club(canon, deg)


def q_maximal_matching(spark, sf_dir):
    from tric_spark.operators.matching import maximal_matching

    canon, *_ = _graph_tables(spark, sf_dir)
    return maximal_matching(canon, seed=42)


def q_zipf_alpha(spark, sf_dir):
    # the CSN power-law MLE applied to token FREQUENCIES — the corpus-side
    # twin of powerlaw_alpha on degrees (Zipf's law is the text analog)
    from tric_spark.operators.digraph_stats import powerlaw_alpha
    from tric_spark.operators.textstats import tokens_col

    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull()
    )
    freqs = (
        docs.select(
            F.explode(
                F.filter(tokens_col(), lambda t: t != F.lit(""))
            ).alias("token")
        )
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("degree"))
    )
    return powerlaw_alpha(freqs, d_min=2)


def q_local_cluster(spark, sf_dir):
    """Seed-local community via the ACL PPR sweep cut: 2-iteration PPR
    from vid 0, degree-normalized, top-64 prefix conductance curve.
    Scores round to 6dp BEFORE ordering so the oracle replays the same
    total order (rank-on-the-rounded-key)."""
    from tric_spark.operators.nibble import sweep_cut
    from tric_spark.operators.pagerank import personalized_pagerank

    canon, sym, verts, deg = _graph_tables(spark, sf_dir)
    seeds = spark.createDataFrame([(0,)], "vid long")
    ranks = personalized_pagerank(sym, verts, seeds, tol=0.0, max_iter=2)
    return sweep_cut(sym, deg, ranks.select("vid", "rank"), top_t=64)


def q_simrank_hosts(spark, sf_dir):
    """SimRank (2 iterations, C=0.8) over the directed host rollup —
    'similar hosts are linked by similar hosts'. All-pairs state is sane
    precisely because it runs on the rollup, not the page graph."""
    from tric_spark.operators.simrank import simrank

    he, hosts = _host_graph(spark, sf_dir)
    directed = he.select(F.col("src_host").alias("src"), F.col("dst_host").alias("dst"))
    r = simrank(directed, hosts, iters=2, c=0.8)
    return r.select(
        F.col("a").alias("host_a"),
        F.col("b").alias("host_b"),
        F.round("sim", 6).alias("sim"),
    )


def q_dag_layers(spark, sf_dir):
    """Longest-path topological layers of the SCC condensation of the
    directed doc graph — the 'flow depth' of the web's bow-tie. SCC
    labels from the engine's own kernel; the layering fixpoint converges
    in depth supersteps (depth = 2 at oracle scale)."""
    from tric_spark.operators.condensation import condensation_edges, dag_layers
    from tric_spark.operators.scc import strongly_connected_components
    from tric_spark.sources.doc_graph import doc_edges_directed

    verts = load_table(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("vid")
    )
    directed = doc_edges_directed(spark, sf_dir)
    labels = strongly_connected_components(directed, verts).withColumnRenamed(
        "scc", "label"
    )
    ce = condensation_edges(directed, labels)
    comps = labels.select("label").distinct().withColumnRenamed("label", "comp")
    return dag_layers(ce.select("src", "dst"), comps)


def q_winnow_fingerprints(spark, sf_dir):
    """MOSS robust winnowing (k=4-token grams, w=4 windows): the
    position-aware overlap fingerprints — any shared 7-token run is
    guaranteed a shared fingerprint."""
    from tric_spark.operators.winnow import winnow_fingerprints

    return winnow_fingerprints(load_table(spark, sf_dir, "documents"))


def q_robots_gate(spark, sf_dir):
    """Robots.txt longest-prefix gate over deterministic per-doc paths —
    REP RFC 9309 semantics: longest matching prefix wins, allow wins a
    length tie, no match = allowed."""
    from tric_spark.operators.urlnorm import robots_filter

    docs = load_table(spark, sf_dir, "documents")
    r = F.col("doc_id")
    path = (
        F.when(r % 7 == 0, F.concat(F.lit("/admin/p"), (r % 25).cast("string")))
        .when(r % 5 == 0, F.concat(F.lit("/static/img"), (r % 25).cast("string")))
        .when(r % 3 == 0, F.concat(F.lit("/p/9"), (r % 10).cast("string")))
        .otherwise(F.concat(F.lit("/p/"), (r % 25).cast("string")))
    )
    rules = [
        ("/admin", False),
        ("/static", False),
        ("/p/", True),
        ("/", True),
        ("/p/9", False),
    ]
    return robots_filter(
        docs.select("doc_id", path.alias("path")), rules
    )


def q_value_quantiles_by_type(spark, sf_dir):
    """Exact per-event-type value percentiles (percentile_disc per key) —
    the latency-dashboard shape, rank-based over per-group value
    histograms."""
    from tric_spark.operators.textstats import exact_quantiles_by

    r = exact_quantiles_by(
        load_table(spark, sf_dir, "events"), "event_type", "value"
    )
    return r.select(F.col("key").alias("event_type"), "pct", "value")


def q_hourly_distinct_users(spark, sf_dir):
    """Approx distinct users per hour via the per-key HLL — the sketch
    whose per-key state is 16 registers regardless of cardinality (the
    dashboard shape for unbounded logs)."""
    from tric_spark.operators.anf import hll_count_distinct_by

    ev = load_table(spark, sf_dir, "events").select(
        F.date_trunc("hour", F.col("ts")).alias("hour"), "user_id"
    )
    r = hll_count_distinct_by(ev, "hour", "user_id")
    return r.select(F.col("key").alias("hour"), "est", "n_rows")


def q_dedup_ingest(spark, sf_dir):
    """Daily-ingest dedup screen: docs with doc_id % 5 == 0 are the 'new
    batch', the rest the existing corpus — exact md5 membership + LSH band
    probe AGAINST the corpus (never batch x batch). Same cap assumption as
    the other LSH oracles."""
    from tric_spark.operators.dedup import dedup_against

    docs = load_table(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") % 5 != 0)
    new = docs.filter(F.col("doc_id") % 5 == 0)
    return dedup_against(corpus, new)


def q_related_fused(spark, sf_dir):
    """Ensemble 'related pages': reciprocal-rank fusion of the
    link-structure ranker (co-citation top-5) and the embedding ranker
    (exact cosine top-5) over a 1-in-10 query sample — scores are
    incomparable, ranks fuse."""
    from tric_spark.operators.cocitation import related_pages_topk
    from tric_spark.operators.fusion import rrf_fuse
    from tric_spark.sources.doc_graph import doc_edges_directed

    emb = load_table(spark, sf_dir, "embeddings")
    qs = emb.filter(F.col("vec_id") % 10 == 0)
    cos = similarity.ann_bruteforce_topk(emb, qs, k=5).select(
        "query_id",
        F.col("vec_id").alias("item"),
        F.col("rank").cast("long").alias("rank"),
    )
    rel = (
        related_pages_topk(doc_edges_directed(spark, sf_dir), k=5, min_common=2)
        .filter(F.col("vid") % 10 == 0)
        .select(
            F.col("vid").alias("query_id"),
            F.col("related").alias("item"),
            F.col("rnk").cast("long").alias("rank"),
        )
    )
    return rrf_fuse([cos, rel], topk=5)


def q_link_recs(spark, sf_dir):
    """Per-page top-10 predicted NEW links by Adamic-Adar (existing edges
    excluded; rounded-score + candidate-id total order)."""
    from tric_spark.operators.linkpred import predicted_links_topk

    _, sym, _, _ = _graph_tables(spark, sf_dir)
    return predicted_links_topk(sym, k=10)


def q_winnow_pairs(spark, sf_dir):
    """MOSS match candidates: document pairs sharing >= 2 distinct
    winnowing fingerprints (same cap assumption as the LSH oracles —
    Spark runs the default max_bucket guard, no sf0.01 cell trips it)."""
    from tric_spark.operators.winnow import winnow_candidates

    return winnow_candidates(load_table(spark, sf_dir, "documents"))


def q_bpe_merges(spark, sf_dir):
    """First 3 BPE merge rules trained over the corpus's whitespace word
    types (weighted word-type BPE, Sennrich et al. 2016) — the tokenizer-
    training pass of the data pipeline."""
    from tric_spark.operators.bpe import bpe_train

    merges, _ = bpe_train(load_table(spark, sf_dir, "documents"), rounds=3)
    return merges.select(
        "round",
        F.col("left").alias("lhs"),
        F.col("right").alias("rhs"),
        "merged",
        "pair_count",
    )


def q_lexical_diversity(spark, sf_dir):
    """Per-doc type/token ratio + unigram Shannon entropy (nats) — the
    boilerplate/template-page detector."""
    from tric_spark.operators.textstats import lexical_diversity

    r = lexical_diversity(load_table(spark, sf_dir, "documents"))
    return r.select(
        "doc_id",
        "n_tokens",
        "n_types",
        F.round("ttr", 6).alias("ttr"),
        F.round("entropy", 6).alias("entropy"),
    )


def q_event_transitions(spark, sf_dir):
    """Markov transition counts/probabilities of each user's time-ordered
    event stream (event_id tie-break — total order)."""
    from tric_spark.operators.transitions import event_transitions

    return event_transitions(load_table(spark, sf_dir, "events"))


def q_langid_confusion(spark, sf_dir):
    """Confusion matrix of the lang_id marker heuristic against the
    labeled lang column — the classifier eval loop."""
    from tric_spark.operators.textstats import langid_confusion

    return langid_confusion(load_table(spark, sf_dir, "documents"))


def q_funnel(spark, sf_dir):
    """view -> click -> purchase conversion funnel with earliest-witness
    semantics (each stage strictly after the previous stage's conversion
    time)."""
    from tric_spark.operators.funnel import funnel

    return funnel(load_table(spark, sf_dir, "events"), ["view", "click", "purchase"])


def q_covisitation(spark, sf_dir):
    """Top-3 item co-visitation recommendations from the event log (items
    parsed from the props JSON payload) — the CF candidate generator.
    Same cap assumption as q_minhash_lsh_pairs: Spark runs the default
    max_fanout guard, the oracle is unguarded (no sf0.01 user trips it)."""
    from tric_spark.operators.covisit import covisitation_topk

    return covisitation_topk(load_table(spark, sf_dir, "events"), k=3)


def q_lang_divergence(spark, sf_dir):
    """Pairwise Jensen-Shannon divergence between per-language token
    distributions — the corpus drift / domain-shift monitor."""
    from tric_spark.operators.divergence import js_divergence_by

    return js_divergence_by(load_table(spark, sf_dir, "documents"), "lang")


def q_label_agreement(spark, sf_dir):
    """NMI + adjusted Rand agreement between the corpus's lang and source
    labelings — the community-detection eval harness exercised on real
    columns (is language concentrated by host?)."""
    from tric_spark.operators.clustereval import cluster_agreement

    docs = load_table(spark, sf_dir, "documents")
    a = docs.select(F.col("doc_id").alias("vid"), F.col("lang").alias("label"))
    b = docs.select(
        F.col("doc_id").alias("vid"), F.col("source").alias("label")
    )
    return cluster_agreement(a, b)


def q_bpe_compression(spark, sf_dir):
    """Corpus symbols-per-token compression bought by the first 3 trained
    BPE merges — the stop-training signal per merge batch."""
    from tric_spark.operators.bpe import bpe_compression

    return bpe_compression(load_table(spark, sf_dir, "documents"), rounds=3)


def q_edge_cut(spark, sf_dir):
    """Edge-cut fraction under vertex-hash vs host-locality partitioning
    (16 md5 bins) — the graph-layout decision report."""
    from tric_spark.plans.partition import edge_cut_report

    canon, _, _, _ = _graph_tables(spark, sf_dir)
    hosts = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    return edge_cut_report(canon, hosts)


def q_ann_recall(spark, sf_dir):
    """Recall@5 of the IVF index vs exact brute force over a 1-in-40
    sampled query set — the tune-before-you-index ANN report."""
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.ann_recall_eval(emb, emb.filter(F.col("vec_id") % 40 == 0))


def q_neardup_eval(spark, sf_dir):
    """Exact recall/verify-precision of the banded MinHash-LSH candidates
    against exact Jaccard>=0.5 ground truth (shingle inverted index)."""
    from tric_spark.operators.dedup import neardup_eval

    return neardup_eval(load_table(spark, sf_dir, "documents"))


def q_heaps_law(spark, sf_dir):
    """Heaps'-law vocabulary-growth fit V(N) = K*N^beta over the corpus in
    doc_id order — the corpus-level junk-token diagnostic (beta near 1 =
    unbounded vocabulary = noise)."""
    from tric_spark.operators.textstats import heaps_law

    return heaps_law(load_table(spark, sf_dir, "documents"))


def q_quality_budget(spark, sf_dir):
    """Token budget retained at each quality-score threshold — the curve
    read before choosing a filtering cut."""
    from tric_spark.operators.quality_filter import quality_budget_curve

    return quality_budget_curve(load_table(spark, sf_dir, "documents"))


def q_daily_retention(spark, sf_dir):
    """Day-over-day returning-user cohort counts over the event log."""
    from tric_spark.operators.anomaly import daily_retention

    return daily_retention(load_table(spark, sf_dir, "events"))


def q_textrank_keywords(spark, sf_dir):
    """TextRank: the engine's weighted PageRank kernel run on the word
    co-occurrence graph (window 2), top-20 by 6dp-rounded rank."""
    from tric_spark.operators.textrank import textrank_keywords

    return textrank_keywords(
        load_table(spark, sf_dir, "documents"), iters=2, k=20
    )


def q_gap_encoding(spark, sf_dir):
    """WebGraph-style gap-encoding cost of the directed adjacency — the
    bits/link a compressed CSR writer would spend (pure-integer bitlen
    arithmetic, exact replay)."""
    from tric_spark.operators.compress import gap_encoding_stats
    from tric_spark.sources.doc_graph import doc_edges_directed

    return gap_encoding_stats(doc_edges_directed(spark, sf_dir))


def q_lang_assortativity(spark, sf_dir):
    """Categorical homophily of the doc graph by language (Newman 2003
    attribute assortativity)."""
    from tric_spark.operators.digraph_stats import attribute_assortativity

    canon, sym, verts, deg = _graph_tables(spark, sf_dir)
    labels = load_table(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("vid"), F.col("lang").alias("label")
    )
    return attribute_assortativity(sym, labels)


def q_dedup_rate_by_source(spark, sf_dir):
    """Exact-duplicate rate per source stratum — the dedup-budget report
    card."""
    from tric_spark.operators.dedup import dedup_rate_by

    return dedup_rate_by(load_table(spark, sf_dir, "documents"))


def q_double_sweep(spark, sf_dir):
    """Double-BFS diameter lower bound from vid 0 (the first move of
    iFUB) — the certified-bound companion to the ANF effective-diameter
    estimate."""
    from tric_spark.operators.bfs import double_sweep_bound

    canon, sym, verts, deg = _graph_tables(spark, sf_dir)
    return double_sweep_bound(sym, start_vid=0)


def _dirty_text():
    """Deterministic PII-bearing text: the driver corpus is clean word
    salad, so (like the RGG/R-MAT generators) the fixture injects the
    signal IN-QUERY with arithmetic both engines replay bit-for-bit."""
    r = F.col("doc_id")
    return F.concat(
        F.col("text"),
        F.lit(" contact user"),
        r.cast("string"),
        F.lit("@mail.example.com from 10."),
        (r % 200 + 1).cast("string"),
        F.lit(".0."),
        (r % 250).cast("string"),
        F.when(
            r % 3 == 0,
            F.concat(
                F.lit(" call 555-01"), F.lpad((r % 100).cast("string"), 2, "0")
            ),
        ).otherwise(F.lit("")),
    )


def q_pii_scan(spark, sf_dir):
    """Email/IPv4/phone counts + md5 of the redacted text per doc — the
    scrub pass, certified byte-for-byte through the masked hash."""
    from tric_spark.operators.pii import pii_scan

    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull()
    )
    return pii_scan(docs.select("doc_id", _dirty_text().alias("text")))


def _messy_url():
    """Deterministic messy URL per doc: scheme/host case, www., default
    ports, dup + trailing slashes, tracking params, unsorted params,
    fragments — every normalization canonical_url performs is exercised."""
    r = F.col("doc_id")
    s = F.coalesce(F.col("source"), F.lit("x"))
    return F.concat(
        F.when(r % 2 == 0, F.lit("HTTPS://")).otherwise(F.lit("http://")),
        F.when(r % 3 == 0, F.lit("WWW.")).otherwise(F.lit("")),
        F.when(r % 5 == 0, F.upper(s)).otherwise(s),
        F.lit(".Example.COM"),
        F.when(
            r % 4 == 0,
            F.when(r % 2 == 0, F.lit(":443")).otherwise(F.lit(":80")),
        ).otherwise(F.lit("")),
        F.lit("/p/"),
        (r % 25).cast("string"),
        F.when(r % 6 == 0, F.lit("//")).otherwise(F.lit("")),
        F.when(r % 7 == 0, F.lit("/")).otherwise(F.lit("")),
        F.when(
            r % 2 == 0,
            F.concat(F.lit("?id="), (r % 10).cast("string"), F.lit("&utm_campaign=c")),
        ).otherwise(F.concat(F.lit("?ref=x&id="), (r % 10).cast("string"))),
        F.when(r % 11 == 0, F.lit("#s")).otherwise(F.lit("")),
    )


def q_url_canonicalize(spark, sf_dir):
    """Canonical-URL dedup stats over deterministically mangled URLs —
    (canon_url, n_urls, n_raw_variants)."""
    from tric_spark.operators.urlnorm import url_dedup_stats

    docs = load_table(spark, sf_dir, "documents")
    return url_dedup_stats(docs.select(_messy_url().alias("url")))


def q_cpm_communities(spark, sf_dir):
    """Clique-percolation (CPM k=3) OVERLAPPING communities: hash-min CC
    over the triangle-edge adjacency graph (two triangles percolate when
    they share an edge); a vertex appears once per community it touches,
    community = min src*1e7+dst edge-key."""
    from tric_spark.operators.percolation import triangle_percolation

    canon, *_ = _graph_tables(spark, sf_dir)
    return triangle_percolation(canon)


def q_rfm_segments(spark, sf_dir):
    """RFM behavioral segmentation grid: per-user recency/frequency/
    monetary quartile scores (exact histogram thresholds, no global ntile
    window) aggregated to (r,f,m) segment counts + avg monetary."""
    from tric_spark.operators.rfm import rfm_segments

    return rfm_segments(load_table(spark, sf_dir, "events"))


def q_embedding_dim_stats(spark, sf_dir):
    """Per-dimension embedding health stats (n/mean/std/min/max + dead
    flag) — one posexplode pass, groupBy(dim), output = vector width."""
    from tric_spark.operators.embstats import embedding_dim_stats

    return embedding_dim_stats(load_table(spark, sf_dir, "embeddings"))


def q_triangle_null_ratio(spark, sf_dir):
    """Configuration-model transitivity excess: actual triangles vs the
    degree-preserving null expectation (sum d(d-1)/2m)^3/6."""
    from tric_spark.operators.digraph_stats import triangle_null_ratio

    canon, sym, verts, deg = _graph_tables(spark, sf_dir)
    return triangle_null_ratio(canon, deg)


def q_mmr_topk(spark, sf_dir):
    """MMR diversified retrieval: greedy lam*rel - (1-lam)*max-sim picks
    (k=3 from a 20-candidate pool, lam=0.7) for query vectors vec_id<3 —
    the post-ANN re-ranker, fully replayed by the unrolled oracle."""
    from tric_spark.operators.mmr import mmr_topk

    emb = load_table(spark, sf_dir, "embeddings")
    return mmr_topk(emb, emb.filter(F.col("vec_id") < 3), k=3, pool=20, lam=0.7)


def q_heavy_hitter_users(spark, sf_dir):
    """Per-hour top-3 most active users — the windowed heavy-hitter /
    bot-detector: the streaming-legal watermarked count stage (batch twin
    here; stream==batch tested) + the deterministic top-k readout."""
    from tric_spark.streaming.windows import topk_per_window, windowed_key_counts

    counts = windowed_key_counts(
        load_table(spark, sf_dir, "events"), key_col="user_id", window="1 hour"
    )
    return topk_per_window(counts, k=3)


def q_readability(spark, sf_dir):
    """Flesch Reading Ease per doc (vowel-group syllable heuristic,
    min-1 sentences) — map-only, one HOF fold per row, no shuffle."""
    from tric_spark.operators.textstats import readability

    return readability(load_table(spark, sf_dir, "documents"))


def q_rank_movers(spark, sf_dir):
    """Incremental-maintenance readout: top-20 |ΔPageRank| movers between
    the 96%-edge 'previous day' snapshot and today's full graph (both
    2-iteration cold runs; vertices new to the graph move from 0).
    Ranks on the ROUNDED delta with vid tie-break, so the cutoff set is
    deterministic across engines."""
    canon, sym, verts, deg = _graph_tables(spark, sf_dir)
    from tric_spark import graph as _g

    old_canon = canon.filter((F.col("src") + F.col("dst")) % 25 != 0)
    old_sym = _g.symmetrize(old_canon)
    old = pagerank(old_sym, _g.vertices(old_sym), tol=0.0, max_iter=2)
    new = pagerank(sym, verts, tol=0.0, max_iter=2)
    j = new.join(
        old.select("vid", F.col("rank").alias("old_rank")), "vid", "left"
    ).select(
        "vid",
        F.round("rank", 6).alias("rank_new"),
        F.round(F.coalesce("old_rank", F.lit(0.0)), 6).alias("rank_old"),
        F.round(
            F.abs(F.col("rank") - F.coalesce("old_rank", F.lit(0.0))), 6
        ).alias("delta"),
    )
    return j.orderBy(F.col("delta").desc(), F.col("vid")).limit(20)


def q_label_spreading(spark, sf_dir):
    """Semi-supervised label spreading: 20% of docs (doc_id%5==0) seed
    their lang label; 2 clamped mass-propagation supersteps over the link
    graph; argmax readout on the nudged 6dp mass (midpoint lore)."""
    from tric_spark.operators.lp import label_spreading

    canon, sym, verts, deg = _graph_tables(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents")
    seeds = docs.filter(F.col("doc_id") % 5 == 0).select(
        F.col("doc_id").alias("vid"), F.col("lang").alias("label")
    )
    return label_spreading(sym, deg, seeds, num_iter=2)


def q_url_features(spark, sf_dir):
    """Lexical URL feature vectors (depth/length/params/digit density +
    the documented spam-score blend) over the messy-URL fixture — the
    crawl-frontier classifier's input, map-only."""
    from tric_spark.operators.urlnorm import url_features

    docs = load_table(spark, sf_dir, "documents")
    return url_features(docs.select(_messy_url().alias("url")))


def q_whiten_embeddings(spark, sf_dir):
    """Per-dimension standardized embeddings in long format (dead dims
    emit 0) — the whitening preprocessor for PQ/IVF codebooks."""
    from tric_spark.operators.embstats import whiten_embeddings

    return whiten_embeddings(load_table(spark, sf_dir, "embeddings"))


def q_stationary_distribution(spark, sf_dir):
    """Long-run event-type occupancy of the behavioral Markov chain:
    4 fixed power-iteration steps from uniform, renormalized per step."""
    from tric_spark.operators.transitions import stationary_distribution

    return stationary_distribution(load_table(spark, sf_dir, "events"), iters=4)


def q_attack_robustness(spark, sf_dir):
    """Targeted hub-removal percolation curve: giant-component size after
    removing vertices above the (1-f) degree quantile, f in {0,5%,10%}
    (Albert-Jeong-Barabási attack tolerance)."""
    from tric_spark.operators.robustness import attack_robustness

    canon, sym, verts, deg = _graph_tables(spark, sf_dir)
    return attack_robustness(sym, deg, fractions=(0.0, 0.05, 0.10))


def q_degree_ccdf(spark, sf_dir):
    """Complementary cumulative degree distribution P(D >= k) — the
    log-log power-law readout, computed over the value histogram."""
    from tric_spark.operators.digraph_stats import degree_ccdf

    canon, sym, verts, deg = _graph_tables(spark, sf_dir)
    return degree_ccdf(deg)


def q_user_entropy(spark, sf_dir):
    """Per-user event-type Shannon entropy — the behavioral-diversity
    bot signal (high volume + near-zero entropy = scripted account)."""
    from tric_spark.operators.anomaly import user_activity_entropy

    return user_activity_entropy(load_table(spark, sf_dir, "events"))


def q_intra_host_share(spark, sf_dir):
    """Share of page links staying inside their host — the
    navigational-vs-content split the host rollup compresses away."""
    from tric_spark.operators.hostgraph import intra_host_share
    from tric_spark.sources.doc_graph import doc_edges_directed

    docs = load_table(spark, sf_dir, "documents")
    groups = docs.select(
        F.col("doc_id").alias("vid"), F.col("source").alias("grp")
    )
    return intra_host_share(doc_edges_directed(spark, sf_dir), groups)


def q_neighbor_degree_curve(spark, sf_dir):
    """knn(k) average-neighbor-degree curve — the disassortativity
    fingerprint real web graphs show (hubs link to leaves)."""
    from tric_spark.operators.digraph_stats import neighbor_degree_curve

    canon, sym, verts, deg = _graph_tables(spark, sf_dir)
    return neighbor_degree_curve(sym, deg)


def q_degree_gini(spark, sf_dir):
    """Exact Gini concentration of the degree distribution (sort-free,
    integer arithmetic over the value histogram)."""
    from tric_spark.operators.digraph_stats import gini_coefficient

    canon, sym, verts, deg = _graph_tables(spark, sf_dir)
    return gini_coefficient(deg, "degree")


def q_host_token_gini(spark, sf_dir):
    """Gini of per-host token budgets — how concentrated the corpus is
    across sources (the 'one domain dominates the crawl' check)."""
    from tric_spark.operators.digraph_stats import gini_coefficient
    from tric_spark.operators.textstats import tokens_col

    docs = load_table(spark, sf_dir, "documents")
    per_host = (
        docs.filter(F.col("text").isNotNull())
        .groupBy(F.coalesce(F.col("source"), F.lit("")).alias("host"))
        .agg(
            F.sum(F.size(F.filter(tokens_col(), lambda t: t != F.lit("")))).alias(
                "tokens"
            )
        )
    )
    return gini_coefficient(per_host, "tokens")


def q_cohort_retention(spark, sf_dir):
    """Weekly cohort retention matrix (first-activity ISO week x offset,
    exact day-arithmetic offsets)."""
    from tric_spark.operators.anomaly import cohort_retention

    return cohort_retention(load_table(spark, sf_dir, "events"), unit="week")


def q_curation_manifest(spark, sf_dir):
    """Per-language curation manifest: raw docs, exact-unique reps
    (md5 within stratum, min-doc_id representative), gate survivors
    (30<=tokens<=100k, 2<=mean word len<=12), kept token budget."""
    from tric_spark.pipeline import curation_manifest

    return curation_manifest(load_table(spark, sf_dir, "documents"))


def q_degree_pair_histogram(spark, sf_dir):
    """Joint degree-degree log2-bucket histogram over directed edge
    endpoints — the 2-D assortativity view; buckets are exact
    bit_length(degree)-1 integers."""
    from tric_spark.operators.digraph_stats import degree_pair_histogram

    canon, sym, verts, deg = _graph_tables(spark, sf_dir)
    return degree_pair_histogram(sym, deg)


def q_random_failure(spark, sf_dir):
    """Random-failure percolation twin of attack_robustness (md5-coin
    removal) — the failure-vs-attack contrast readout."""
    from tric_spark.operators.robustness import random_failure_robustness

    canon, sym, verts, deg = _graph_tables(spark, sf_dir)
    return random_failure_robustness(sym, deg, fractions=(0.0, 0.10, 0.30))


def q_embedding_anisotropy(spark, sf_dir):
    """Mean pairwise cosine of unit-normalized embeddings via the
    closed form (||sum u||^2 - n)/(n(n-1)) — no pairwise join."""
    from tric_spark.operators.embstats import embedding_anisotropy

    return embedding_anisotropy(load_table(spark, sf_dir, "embeddings"))


def q_keyness_by_lang(spark, sf_dir):
    """Top-10 most distinctive tokens per language by smoothed log-odds
    (Monroe et al. keyness) — ranks on the rounded score."""
    from tric_spark.operators.textstats import keyness_by

    return keyness_by(load_table(spark, sf_dir, "documents"), "lang", k=10)


def q_token_freq_spectrum(spark, sf_dir):
    """Frequency-of-frequencies spectrum (Good-Turing input): how many
    token types occur exactly k times."""
    from tric_spark.operators.textstats import token_freq_spectrum

    return token_freq_spectrum(load_table(spark, sf_dir, "documents"))


def q_funnel_windowed(spark, sf_dir):
    """The conversion funnel gated to a 1-hour max gap per stage —
    exact timestamp+interval arithmetic, same earliest-witness greedy."""
    from tric_spark.operators.funnel import funnel

    return funnel(
        load_table(spark, sf_dir, "events"),
        ["view", "click", "purchase"],
        max_gap_s=3600,
    )


def q_crawl_budget(spark, sf_dir):
    """Per-host crawl budget: 2-iter host PageRank (6dp) x (1 - exact
    dup rate), normalized — authority earns budget, duplicate farms
    forfeit it."""
    from tric_spark.operators.dedup import dedup_rate_by
    from tric_spark.operators.frontier import crawl_budget
    from tric_spark.operators.hostgraph import host_pagerank

    he, hosts = _host_graph(spark, sf_dir)
    pr = host_pagerank(he, hosts, tol=0.0, max_iter=2).select(
        F.col("vid").alias("host"), F.round("rank", 6).alias("rank")
    )
    docs = load_table(spark, sf_dir, "documents")
    return crawl_budget(pr, dedup_rate_by(docs, "source"))


def q_small_world(spark, sf_dir):
    """Small-world σ = (C/C_rand)/(L/L_rand): clustering from the exact
    TC kernel, mean path from the 6dp-rounded HyperANF curve, ER
    baselines at equal density."""
    from tric_spark.operators.anf import hyper_anf, small_world_sigma

    canon, sym, verts, deg = _graph_tables(spark, sf_dir)
    tri = tc.triangle_count_join(canon)
    wedges = deg.agg(
        (F.sum(F.col("degree") * (F.col("degree") - 1)) / 2).cast("long").alias("w")
    ).first()["w"]
    n = verts.count()
    m = canon.count()
    curve = hyper_anf(sym, verts, max_h=6).select(
        "h", F.round("nf", 6).alias("nf")
    )
    return small_world_sigma(curve, 3.0 * tri / wedges, n, 2.0 * m / n)


def q_json_profile(spark, sf_dir):
    """Per-key schema profile of the props JSON payload: presence,
    value cardinality, integer-typed share."""
    from tric_spark.operators.profiling import json_schema_profile

    return json_schema_profile(load_table(spark, sf_dir, "events"))


def q_interarrival_quantiles(spark, sf_dir):
    """Per-type inter-arrival percentiles (whole-second gaps from exact
    microsecond lags) — the feed-health burstiness readout."""
    from tric_spark.operators.profiling import interarrival_quantiles

    return interarrival_quantiles(load_table(spark, sf_dir, "events"))


def q_bipartite_components(spark, sf_dir):
    """Per-component bipartiteness: hash-min CC picks representatives,
    one multi-source BFS 2-colors every component at once, conflict
    (odd-cycle) edges counted by a single parity join."""
    from tric_spark.operators.bipartite import bipartite_components

    canon, sym, verts, deg = _graph_tables(spark, sf_dir)
    return bipartite_components(canon, sym, verts)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "heavy_hitter_users": q_heavy_hitter_users,
        "readability": q_readability,
        "rank_movers": q_rank_movers,
        "label_spreading": q_label_spreading,
        "url_features": q_url_features,
        "whiten_embeddings": q_whiten_embeddings,
        "stationary_distribution": q_stationary_distribution,
        "bipartite_components": q_bipartite_components,
        "attack_robustness": q_attack_robustness,
        "json_profile": q_json_profile,
        "interarrival_quantiles": q_interarrival_quantiles,
        "small_world": q_small_world,
        "crawl_budget": q_crawl_budget,
        "keyness_by_lang": q_keyness_by_lang,
        "token_freq_spectrum": q_token_freq_spectrum,
        "funnel_windowed": q_funnel_windowed,
        "random_failure": q_random_failure,
        "embedding_anisotropy": q_embedding_anisotropy,
        "curation_manifest": q_curation_manifest,
        "cohort_retention": q_cohort_retention,
        "degree_ccdf": q_degree_ccdf,
        "user_entropy": q_user_entropy,
        "intra_host_share": q_intra_host_share,
        "neighbor_degree_curve": q_neighbor_degree_curve,
        "degree_gini": q_degree_gini,
        "host_token_gini": q_host_token_gini,
        "degree_pair_histogram": q_degree_pair_histogram,
        "cpm_communities": q_cpm_communities,
        "rfm_segments": q_rfm_segments,
        "embedding_dim_stats": q_embedding_dim_stats,
        "triangle_null_ratio": q_triangle_null_ratio,
        "mmr_topk": q_mmr_topk,
        "dag_layers": q_dag_layers,
        "pii_scan": q_pii_scan,
        "url_canonicalize": q_url_canonicalize,
        "gap_encoding": q_gap_encoding,
        "lang_assortativity": q_lang_assortativity,
        "dedup_rate_by_source": q_dedup_rate_by_source,
        "double_sweep": q_double_sweep,
        "winnow_fingerprints": q_winnow_fingerprints,
        "winnow_pairs": q_winnow_pairs,
        "link_recs": q_link_recs,
        "related_fused": q_related_fused,
        "dedup_ingest": q_dedup_ingest,
        "hourly_distinct_users": q_hourly_distinct_users,
        "value_quantiles_by_type": q_value_quantiles_by_type,
        "robots_gate": q_robots_gate,
        "bpe_merges": q_bpe_merges,
        "heaps_law": q_heaps_law,
        "quality_budget": q_quality_budget,
        "neardup_eval": q_neardup_eval,
        "ann_recall": q_ann_recall,
        "bpe_compression": q_bpe_compression,
        "edge_cut": q_edge_cut,
        "label_agreement": q_label_agreement,
        "lang_divergence": q_lang_divergence,
        "covisitation": q_covisitation,
        "funnel": q_funnel,
        "event_transitions": q_event_transitions,
        "langid_confusion": q_langid_confusion,
        "pagerank_warm": q_pagerank_warm,
        "edge_diff": q_edge_diff,
        "spectral_cut": q_spectral_cut,
        "mrl_recall": q_mrl_recall,
        "host_conductance": q_host_conductance,
        "lexical_diversity": q_lexical_diversity,
        "daily_retention": q_daily_retention,
        "textrank_keywords": q_textrank_keywords,
        "edges_canonical": q_edges_canonical,
        "local_cluster": q_local_cluster,
        "simrank_hosts": q_simrank_hosts,
        "degree_histogram": q_degree_histogram,
        "wedge_count": q_wedge_count,
        "fourcycle_count": q_fourcycle_count,
        "fourclique_count": q_fourclique_count,
        "dsir_weights": q_dsir_weights,
        "dsir_topk": q_dsir_topk,
        "bloom_screen": q_bloom_screen,
        "eigencentrality_iter3": q_eigencentrality_iter3,
        "jaccard_linkpred": q_jaccard_linkpred,
        "zipf_alpha": q_zipf_alpha,
        "maximal_matching": q_maximal_matching,
        "rich_club": q_rich_club,
        "tpch_q6": q_tpch_q6,
        "tpch_q4": q_tpch_q4,
        "postings_stats": q_postings_stats,
        "event_anomalies": q_event_anomalies,
        "dataset_split": q_dataset_split,
        "phrase_search": q_phrase_search,
        "bm25_search": q_bm25_search,
        "length_quantiles": q_length_quantiles,
        "triangle_count_join": q_triangle_count_join,
        "triangle_count_join_pruned": q_triangle_count_join_pruned,
        "triangle_count_adj": q_triangle_count_adj,
        "triangle_count_adj2": q_triangle_count_adj2,
        "triangle_count_salted": q_triangle_count_salted,
        "triangles_per_vertex": q_triangles_per_vertex,
        "local_clustering": q_local_clustering,
        "global_clustering": q_global_clustering,
        "graph_summary": q_graph_summary,
        "core_numbers": q_core_numbers,
        "kcore2_edges": q_kcore2_edges,
        "edge_support": q_edge_support,
        "ktruss3_edges": q_ktruss3_edges,
        "truss_numbers": q_truss_numbers,
        "cc_hashmin_step1": q_cc_hashmin_step1,
        "bfs_from_0": q_bfs_from_0,
        "cc_converged": q_cc_converged,
        "cc_incremental": q_cc_incremental,
        "hitting_times": q_hitting_times,
        "louvain2": q_louvain2,
        "louvain_graph": q_louvain_graph,
        "pq_codes": q_pq_codes,
        "pq_search": q_pq_search,
        "classify": q_classify,
        "asof_purchase_click": q_asof_purchase_click,
        "cc_star": q_cc_star,
        "pagerank_iter2": q_pagerank_iter2,
        "ppr_iter2": q_ppr_iter2,
        "event_sessions": q_event_sessions,
        "lp_iter2": q_lp_iter2,
        "top_hubs": q_top_hubs,
        "dedup_exact_groups": q_dedup_exact_groups,
        "token_counts": q_token_counts,
        "token_counts_bpe": q_token_counts_bpe,
        "quality_scores": q_quality_scores,
        "lang_id": q_lang_id,
        "fingerprints": q_fingerprints,
        "minhash_signatures": q_minhash_signatures,
        "minhash_lsh_pairs": q_minhash_lsh_pairs,
        "stream_neardup_batch": q_stream_neardup_batch,
        "ngram_jaccard": q_ngram_jaccard,
        "ngram_containment": q_ngram_containment,
        "simhash_groups": q_simhash_groups,
        "simhash_candidates": q_simhash_candidates,
        "neardup_groups": q_neardup_groups,
        "dedup_exact_kept": q_dedup_exact_kept,
        "weighted_pagerank_iter2": q_weighted_pagerank_iter2,
        "ann_topk": q_ann_topk,
        "embedding_neardup": q_embedding_neardup,
        "embedding_neardup_exact": q_embedding_neardup_exact,
        "events_hourly": q_events_hourly,
        "semantic_dedup": q_semantic_dedup,
        "katz_iter3": q_katz_iter3,
        "tfidf_terms": q_tfidf_terms,
        "gopher_filter": q_gopher_filter,
        "lm_perplexity": q_lm_perplexity,
        "collocations": q_collocations,
        "adamic_adar": q_adamic_adar,
        "weighted_sample": q_weighted_sample,
        "weighted_sample_per_lang": q_weighted_sample_per_lang,
        "ann_lsh_topk": q_ann_lsh_topk,
        "ann_ivf_topk": q_ann_ivf_topk,
        "pagerank_converged": q_pagerank_converged,
        "hits_iter2": q_hits_iter2,
        "salsa_iter2": q_salsa_iter2,
        "cocitation": q_cocitation,
        "coupling": q_coupling,
        "related_pages": q_related_pages,
        "host_edges": q_host_edges,
        "host_pagerank_iter2": q_host_pagerank_iter2,
        "trustrank_iter2": q_trustrank_iter2,
        "anti_trustrank_iter2": q_anti_trustrank_iter2,
        "spam_mass_hosts": q_spam_mass_hosts,
        "crawl_frontier": q_crawl_frontier,
        "crawl_schedule": q_crawl_schedule,
        "betweenness": q_betweenness,
        "harmonic_closeness": q_harmonic_closeness,
        "lp_modularity": q_lp_modularity,
        "mis": q_mis,
        "coloring": q_coloring,
        "multi_ppr_iter2": q_multi_ppr_iter2,
        "resolve_redirects": q_resolve_redirects,
        "sssp_weighted": q_sssp_weighted,
        "powerlaw_alpha": q_powerlaw_alpha,
        "mst_forest": q_mst_forest,
        "single_linkage": q_single_linkage,
        "densest_core": q_densest_core,
        "kmeans_assign": q_kmeans_assign,
        "kmeans_clusters": q_kmeans_clusters,
        "length_quantiles": q_length_quantiles,
        "mix_weights": q_mix_weights,
        "rp_project": q_rp_project,
        "rp_kmeans": q_rp_kmeans,
        "triangles_list": q_triangles_list,
        "pack_sequences": q_pack_sequences,
        "packing_stats": q_packing_stats,
        "random_walks": q_random_walks,
        "walk_cooccurrence": q_walk_cooccurrence,
        "biased_walks": q_biased_walks,
        "mc_pagerank": q_mc_pagerank,
        "neighborhood2": q_neighborhood2,
        "anf_curve": q_anf_curve,
        "effective_diameter": q_effective_diameter,
        "related_hosts": q_related_hosts,
        "hll_distinct_tokens": q_hll_distinct_tokens,
        "cms_heavy_hitters": q_cms_heavy_hitters,
        "clustering_by_degree": q_clustering_by_degree,
        "host_distribution": q_host_distribution,
        "tpch_q1": q_tpch_q1,
        "tpch_q3": q_tpch_q3,
        "tpch_q5": q_tpch_q5,
        "sample_stratified": q_sample_stratified,
        "repetition_metrics": q_repetition_metrics,
        "vocabulary": q_vocabulary,
        "contamination": q_contamination,
        "reciprocity": q_reciprocity,
        "assortativity": q_assortativity,
        "segment_dedup": q_segment_dedup,
        "duplicated_segments": q_duplicated_segments,
        "scc_labels": q_scc_labels,
        "bowtie_regions": q_bowtie_regions,
    }


# ---------------------------------------------------------------------------
# oracles
# ---------------------------------------------------------------------------

E = DOC_EDGES_SQL  # shared CTE block: nd, raw, und, sym, deg

_TRI = """
  tri AS (
    SELECT e1.src AS i, e1.dst AS j, e2.dst AS k
    FROM und e1
    JOIN und e2 ON e2.src = e1.src AND e2.dst > e1.dst
    JOIN und e3 ON e3.src = e1.dst AND e3.dst = e2.dst
  )
"""

_TOKS = "toks AS (SELECT doc_id, text, string_split(text, ' ') AS t FROM documents)"

# messy-URL fixture CTE (SQL twin of _messy_url); url_canonicalize keeps
# its original inline copy, new URL oracles compose this one
_MURLS = """
  murls AS (
    SELECT doc_id,
           CASE WHEN doc_id % 2 = 0 THEN 'HTTPS://' ELSE 'http://' END
        || CASE WHEN doc_id % 3 = 0 THEN 'WWW.' ELSE '' END
        || CASE WHEN doc_id % 5 = 0 THEN upper(coalesce(source, 'x'))
                ELSE coalesce(source, 'x') END
        || '.Example.COM'
        || CASE WHEN doc_id % 4 = 0
                THEN CASE WHEN doc_id % 2 = 0 THEN ':443' ELSE ':80' END
                ELSE '' END
        || '/p/' || (doc_id % 25)::VARCHAR
        || CASE WHEN doc_id % 6 = 0 THEN '//' ELSE '' END
        || CASE WHEN doc_id % 7 = 0 THEN '/' ELSE '' END
        || CASE WHEN doc_id % 2 = 0
                THEN '?id=' || (doc_id % 10)::VARCHAR || '&utm_campaign=c'
                ELSE '?ref=x&id=' || (doc_id % 10)::VARCHAR END
        || CASE WHEN doc_id % 11 = 0 THEN '#s' ELSE '' END AS url
    FROM documents
  )
"""


def _bpe_oracle(rounds: int, final: str = "merges") -> str:
    """Unrolled weighted word-type BPE replay (operators/bpe.py): per
    round, argmax adjacent pair (count desc, l, r asc) then a
    list_reduce fold applying the merge left-to-right non-overlapping —
    identical to Spark's F.aggregate fold."""
    ctes = [
        """words AS (
          SELECT w.word AS word, count(*) AS wc
          FROM (SELECT unnest(string_split(text, ' ')) AS word
                FROM documents WHERE text IS NOT NULL) w
          WHERE w.word <> '' GROUP BY 1
        )""",
        r"""s0 AS (SELECT word, wc, regexp_extract_all(word, '[^\n\r]')
                 AS syms
               FROM words)""",
    ]
    selects = []
    for i in range(1, rounds + 1):
        ctes.append(
            f"""p{i} AS (
              SELECT syms[i] AS l, syms[i+1] AS r, sum(wc) AS cnt
              FROM s{i - 1}, unnest(generate_series(1, len(syms) - 1)) AS g(i)
              GROUP BY 1, 2
            )"""
        )
        ctes.append(
            f"""m{i} AS (SELECT l, r, cnt FROM p{i}
                   ORDER BY cnt DESC, l ASC, r ASC LIMIT 1)"""
        )
        ctes.append(
            f"""s{i} AS (
              SELECT word, wc, list_reduce(
                list_prepend(CAST([] AS VARCHAR[]),
                             list_transform(s{i - 1}.syms, x -> [x])),
                (a, b) -> CASE WHEN len(a) > 0 AND a[-1] = m{i}.l
                                    AND b[1] = m{i}.r
                          THEN list_append(a[1:len(a)-1], m{i}.l || m{i}.r)
                          ELSE list_concat(a, b) END) AS syms
              FROM s{i - 1}, m{i}
            )"""
        )
        selects.append(
            f"SELECT {i} AS round, l AS lhs, r AS rhs, l || r AS merged,"
            f" cnt::BIGINT AS pair_count FROM m{i}"
        )
    if final == "compression":
        selects = [
            f"""SELECT count(*)::BIGINT AS n_word_types,
                   sum(a.wc)::BIGINT AS total_words,
                   sum(a.wc * len(b.syms))::BIGINT AS total_syms_before,
                   sum(a.wc * len(a.syms))::BIGINT AS total_syms_after,
                   round(sum(a.wc * len(a.syms))::DOUBLE
                         / sum(a.wc * len(b.syms)), 6) AS compression
               FROM s{rounds} a JOIN s0 b USING (word)"""
        ]
    return "WITH " + ",\n".join(ctes) + "\n" + "\nUNION ALL ".join(selects)

# DSIR hashed-unigram log-weights (operators/dsir.py) — target slice is
# lang='en'; ranks/rounding replay the Spark side exactly
_DSIR_W = """
  dtoks AS (
    SELECT doc_id, lang = 'en' AS is_target,
           unnest(list_filter(string_split(text, ' '), x -> x <> ''))
             AS token
    FROM documents WHERE text IS NOT NULL
  ),
  dbk AS (
    SELECT doc_id, is_target,
           ('0x' || substr(md5('dsir:17:' || token), 1, 12))::BIGINT
             % 1024 AS bucket
    FROM dtoks
  ),
  dcounts AS (
    SELECT bucket, count(*) AS rc,
           sum(CASE WHEN is_target THEN 1 ELSE 0 END) AS tcn
    FROM dbk GROUP BY bucket
  ),
  dtot AS (SELECT sum(rc) AS rn, sum(tcn) AS tn FROM dcounts),
  dratio AS (
    SELECT bucket,
           ln((tcn + 1) / (tn + 1024.0)) - ln((rc + 1) / (rn + 1024.0))
             AS lr
    FROM dcounts, dtot
  ),
  dw AS (
    SELECT doc_id, count(*)::BIGINT AS n_toks,
           round(sum(lr) / count(*), 6) AS logw
    FROM dbk JOIN dratio USING (bucket) GROUP BY doc_id
  )
"""

# distinct token 3-shingles — mirrors tric_spark.operators.dedup.shingles_col
_GRAMS = """
  grams AS (
    SELECT doc_id,
           CASE WHEN len(t) < 3 THEN [text]
                ELSE list_distinct((
                  SELECT list(array_to_string(list_slice(t, i, i+2), ' '))
                  FROM unnest(generate_series(1, len(t)-2)) AS u(i)
                ))
           END AS g
    FROM toks
  )
"""


def _mh_sql(i: int) -> str:
    """One shingled minhash permutation — mirrors dedup._minhash_col."""
    return f"list_min(list_transform(g, x -> md5(x || '#{i}')))"


def _lsh_band_sql(b: int, rows_per_band: int = 4) -> str:
    cols = " || ".join(_mh_sql(b * rows_per_band + r) for r in range(rows_per_band))
    return f"md5({cols}) AS band{b}"


def _lsh_cand_sql(n_bands: int = 4) -> str:
    """Candidate-pair CTE body from banded shingled minhash (k=16, 4 bands
    of 4 rows — the dedup.lsh_candidate_pairs defaults)."""
    sig = ", ".join(_lsh_band_sql(b) for b in range(n_bands))
    unions = " UNION ALL ".join(
        f"SELECT x.doc_id AS a, y.doc_id AS b FROM sig x JOIN sig y ON x.band{b} = y.band{b}"
        for b in range(n_bands)
    )
    return f"sig AS (SELECT doc_id, {sig} FROM grams), cand AS (SELECT DISTINCT a, b FROM ({unions}) WHERE a < b)"


def _hyperplane_sig_sql(vexpr: str, n_planes: int = 8, seed: int = 42) -> str:
    """Random-hyperplane LSH signature — mirrors
    tric_spark.operators.similarity.hyperplane_signature: plane p's weight
    for dimension d is +1/-1 from hex digit p of md5('seed:d'); the
    projection is rounded 6dp before the sign on BOTH engines."""

    def bit(p: int) -> str:
        return f"""CASE WHEN round((
          SELECT sum(CASE WHEN strpos('89abcdef',
                            substr(md5('{seed}:' || (i-1)::VARCHAR), {p + 1}, 1)) > 0
                     THEN {vexpr}[i] ELSE -{vexpr}[i] END)
          FROM unnest(generate_series(1, len({vexpr}))) AS u(i)), 6) >= 0
        THEN '1' ELSE '0' END"""

    return "concat(" + ", ".join(bit(p) for p in range(n_planes)) + ")"


def _matching_sql(rounds: int) -> str:
    """Parallel-greedy maximal matching unroll — mirrors
    operators/matching.py (fixed md5 edge priorities, so the fixpoint is
    the sequential greedy matching; extra rounds past convergence add
    empty winner sets and change nothing)."""
    ctes = [
        "m0 AS MATERIALIZED (SELECT src, dst, "
        "md5('mm:42:' || src::VARCHAR || ':' || dst::VARCHAR) AS p FROM und)"
    ]
    for r in range(1, rounds + 1):
        ctes.append(
            f"v{r} AS MATERIALIZED (SELECT vid, min(p) AS mp FROM "
            f"(SELECT src AS vid, p FROM m{r - 1} "
            f"UNION ALL SELECT dst AS vid, p FROM m{r - 1}) GROUP BY vid)"
        )
        ctes.append(
            f"w{r} AS MATERIALIZED (SELECT e.src, e.dst FROM m{r - 1} e "
            f"JOIN v{r} a ON a.vid = e.src AND a.mp = e.p "
            f"JOIN v{r} b ON b.vid = e.dst AND b.mp = e.p)"
        )
        ctes.append(
            f"m{r} AS MATERIALIZED (SELECT e.src, e.dst, e.p FROM m{r - 1} e "
            f"WHERE e.src NOT IN (SELECT src FROM w{r} UNION ALL SELECT dst FROM w{r}) "
            f"AND e.dst NOT IN (SELECT src FROM w{r} UNION ALL SELECT dst FROM w{r}))"
        )
    unions = " UNION ALL ".join(
        f"SELECT src, dst FROM w{r}" for r in range(1, rounds + 1)
    )
    return f"WITH {E}, {', '.join(ctes)} SELECT src, dst FROM ({unions})"


def _oracle_rounds(base: int) -> int:
    """ADVICE r2: the peeling unroll depths are tuned at the sf0.01 gate;
    a deeper graph under SPARK_GRAFT_ORACLE_SF may need more waves to reach
    fixpoint (short unrolls fail the gate loudly but confusingly — missing
    rows — rather than wrongly). Double the depth when the oracle runs at a
    larger SF; extra rounds are no-ops on an already-empty edge table."""
    import re

    m = re.search(r"sf([0-9.]+)/?$", os.environ.get("SPARK_GRAFT_ORACLE_SF", ""))
    if m and float(m.group(1)) > 0.01:
        return base * 2
    return base


def _core_ctes(rounds: int) -> tuple[list, str]:
    """Shared peeling unroll for the core-family oracles (sf0.01 needs 16
    waves; extra rounds are no-ops on an empty edge table). Mirrors
    tric_spark.operators.kcore.core_numbers: per wave, the level k is the
    running max of the min degree, vertices with degree ≤ k (or stranded
    with no surviving edges) peel at level k. Returns (cte_list,
    (vid, core) union select)."""
    # AS MATERIALIZED is load-bearing: DuckDB inlines plain CTEs at every
    # reference, and each wave references the previous one several times —
    # un-materialized, the expansion is exponential in `rounds`.
    ctes = [
        "e0 AS MATERIALIZED (SELECT src, dst FROM sym)",
        "k0 AS MATERIALIZED (SELECT CAST(0 AS BIGINT) AS k)",
    ]
    for i in range(1, rounds + 1):
        p = i - 1
        ctes.append(
            f"d{i} AS MATERIALIZED (SELECT src AS v, count(*) AS d FROM e{p} GROUP BY src)"
        )
        ctes.append(
            f"k{i} AS MATERIALIZED (SELECT greatest(coalesce((SELECT min(d) FROM d{i}), 0),"
            f" (SELECT k FROM k{p})) AS k)"
        )
        ctes.append(
            f"p{i} AS MATERIALIZED (SELECT v FROM d{i} WHERE d <= (SELECT k FROM k{i}))"
        )
        ctes.append(
            f"e{i} AS MATERIALIZED (SELECT src, dst FROM e{p} WHERE src NOT IN (SELECT v FROM p{i})"
            f" AND dst NOT IN (SELECT v FROM p{i}))"
        )
        ctes.append(
            f"g{i} AS MATERIALIZED (SELECT v AS vid, (SELECT k FROM k{i}) AS core FROM d{i}"
            f" WHERE v NOT IN (SELECT src FROM e{i}))"
        )
    unions = " UNION ALL ".join(f"SELECT vid, core FROM g{i}" for i in range(1, rounds + 1))
    return ctes, unions


def _core_numbers_sql(rounds: int = 32) -> str:
    ctes, unions = _core_ctes(rounds)
    return f"WITH {E}, {', '.join(ctes)} SELECT vid, core FROM ({unions})"


def _densest_core_sql(rounds: int = 32) -> str:
    """densest_core replay: the shared peeling unroll, then k = max core,
    the induced symmetric edge count halved, density = |E|/|V| at 6dp."""
    ctes, unions = _core_ctes(rounds)
    ctes.append(f"cores AS MATERIALIZED (SELECT vid, core FROM ({unions}))")
    ctes.append("km AS MATERIALIZED (SELECT max(core) AS kmax FROM cores)")
    ctes.append(
        "cv AS MATERIALIZED (SELECT vid FROM cores"
        " WHERE core = (SELECT kmax FROM km))"
    )
    return (
        f"WITH {E}, {', '.join(ctes)} "
        "SELECT (SELECT kmax FROM km) AS k,"
        " (SELECT count(*) FROM cv)::BIGINT AS n_vertices,"
        " (SELECT CAST(count(*) / 2 AS BIGINT) FROM sym"
        "   WHERE src IN (SELECT vid FROM cv)"
        "   AND dst IN (SELECT vid FROM cv)) AS n_edges,"
        " round((SELECT CAST(count(*) / 2 AS BIGINT) FROM sym"
        "   WHERE src IN (SELECT vid FROM cv)"
        "   AND dst IN (SELECT vid FROM cv))::DOUBLE"
        " / (SELECT count(*) FROM cv), 6) AS density"
    )


def _mst_sql(rounds: int = 10, jumps: int = 6) -> str:
    """operators/mst.py::minimum_spanning_forest replayed round-for-round:
    per-component minimum outgoing edge under the (w, src, dst, other)
    total order (row_number replays Spark's struct-min), 2-cycle resolve,
    ``jumps`` pointer doublings, label relabel. Extra rounds no-op on an
    exhausted candidate set. Weights are the driver's (src+dst)%7+1.
    ASSUMPTION (the SF-scaled-unroll convention): Spark contracts each
    round's pick forest to FIXPOINT; this replay contracts 2^jumps hops,
    so parity holds while no round's pick chain exceeds 2^jumps — bump
    ``jumps`` alongside ``rounds`` for a larger-SF sweep."""
    ctes = [
        "we AS MATERIALIZED (SELECT src, dst, (src + dst) % 7 + 1 AS w FROM und)",
        "l0 AS MATERIALIZED (SELECT vid, vid AS comp FROM"
        " (SELECT src AS vid FROM we UNION SELECT dst FROM we))",
    ]
    for r in range(1, rounds + 1):
        p = r - 1
        ctes.append(
            f"cand{r} AS MATERIALIZED (SELECT l1.comp AS cs, l2.comp AS cd,"
            f" e.w, e.src, e.dst FROM we e"
            f" JOIN l{p} l1 ON l1.vid = e.src"
            f" JOIN l{p} l2 ON l2.vid = e.dst WHERE l1.comp <> l2.comp)"
        )
        ctes.append(
            f"both{r} AS MATERIALIZED ("
            f"SELECT cs AS comp, cd AS other, w, src, dst FROM cand{r}"
            f" UNION ALL"
            f" SELECT cd AS comp, cs AS other, w, src, dst FROM cand{r})"
        )
        ctes.append(
            f"pick{r} AS MATERIALIZED (SELECT comp, w, src, dst, other FROM"
            f" (SELECT *, row_number() OVER (PARTITION BY comp"
            f" ORDER BY w, src, dst, other) AS rn FROM both{r}) WHERE rn = 1)"
        )
        ctes.append(
            f"j{r}_0 AS MATERIALIZED (SELECT a.comp AS c,"
            f" CASE WHEN b.other = a.comp THEN least(a.comp, a.other)"
            f" ELSE a.other END AS t"
            f" FROM pick{r} a JOIN pick{r} b ON b.comp = a.other)"
        )
        for s in range(1, jumps + 1):
            ctes.append(
                f"j{r}_{s} AS MATERIALIZED (SELECT a.c, b.t"
                f" FROM j{r}_{s - 1} a JOIN j{r}_{s - 1} b ON b.c = a.t)"
            )
        ctes.append(
            f"l{r} AS MATERIALIZED (SELECT l.vid, coalesce(j.t, l.comp) AS comp"
            f" FROM l{p} l LEFT JOIN j{r}_{jumps} j ON j.c = l.comp)"
        )
    unions = " UNION ALL ".join(
        f"SELECT src, dst, w FROM pick{r}" for r in range(1, rounds + 1)
    )
    return (
        f"WITH {E}, {', '.join(ctes)} "
        f"SELECT DISTINCT src, dst, w AS weight FROM ({unions})"
    )


def _kmeans_sql(
    k: int = 8,
    iters: int = 4,
    seed: int = 42,
    final: str = "assign",
    emb_select: str | None = None,
) -> str:
    """operators/kmeans.py replayed iteration-for-iteration: md5-ordered
    init (top-k by digest — no ties, ids distinct), squared-L2 rounded 6dp
    with cluster-id tie-break (row_number replays Spark's struct-min),
    per-dimension mean rounded 6dp. ``final`` picks the readout: the last
    assignment table or the per-cluster (n, inertia) summary.
    ``emb_select`` overrides the (vid, v) point source — used by the
    rp_kmeans composition to feed the JL projection in."""
    emb_select = emb_select or (
        "SELECT vec_id AS vid,"
        " list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings"
    )
    ctes = [
        f"emb AS MATERIALIZED ({emb_select})",
        f"c0 AS MATERIALIZED (SELECT row_number() OVER (ORDER BY r, vid)"
        f" AS cluster, v AS c FROM (SELECT vid, v,"
        f" md5('km:{seed}:' || vid::VARCHAR) AS r FROM emb"
        f" ORDER BY r, vid LIMIT {k}))",
    ]
    dist = (
        "round((SELECT sum((e.v[i]-c.c[i])*(e.v[i]-c.c[i]))"
        " FROM unnest(generate_series(1, len(e.v))) AS u(i)), 6)"
    )
    for t in range(1, iters + 2):
        ctes.append(
            f"d{t} AS MATERIALIZED (SELECT e.vid, c.cluster, {dist} AS d"
            f" FROM emb e CROSS JOIN c{t - 1} c)"
        )
        ctes.append(
            f"a{t} AS MATERIALIZED (SELECT vid, cluster, d FROM"
            f" (SELECT vid, cluster, d, row_number() OVER (PARTITION BY vid"
            f" ORDER BY d, cluster) AS rn FROM d{t}) WHERE rn = 1)"
        )
        if t <= iters:
            ctes.append(
                f"c{t} AS MATERIALIZED (SELECT cluster,"
                f" list(cv ORDER BY pos) AS c FROM"
                f" (SELECT a.cluster, i AS pos, round(avg(e.v[i]), 6) AS cv"
                f" FROM a{t} a JOIN emb e ON e.vid = a.vid,"
                f" unnest(generate_series(1, len(e.v))) AS u(i)"
                f" GROUP BY a.cluster, i) GROUP BY cluster)"
            )
    last = f"a{iters + 1}"
    if final == "assign":
        readout = f"SELECT vid, cluster, d FROM {last}"
    else:
        readout = (
            f"SELECT cluster, count(*)::BIGINT AS n,"
            f" round(sum(d), 6) AS inertia FROM {last} GROUP BY cluster"
        )
    return f"WITH {', '.join(ctes)} {readout}"


def _rp_sql(out_dims: int = 16, seed: int = 42) -> str:
    """similarity.rp_project replayed: component p is the md5-±1 weighted
    sum (same plane rule as _hyperplane_sig_sql) scaled by 1/√out_dims
    (exact for perfect-square out_dims) and rounded 6dp."""
    scale = 1.0 / math.sqrt(out_dims)
    comps = ", ".join(
        f"""round((SELECT sum(CASE WHEN strpos('89abcdef',
              substr(md5('{seed}:' || (i-1)::VARCHAR), {p + 1}, 1)) > 0
            THEN embedding[i]::DOUBLE ELSE -(embedding[i]::DOUBLE) END)
          FROM unnest(generate_series(1, len(embedding))) AS u(i))
          * {scale!r}, 6) AS p{p}"""
        for p in range(out_dims)
    )
    return f"SELECT vec_id, {comps} FROM embeddings"


def _pagerank_converged_sql(rounds: int = 220) -> str:
    """Converged PageRank replay: power iteration unrolled to ``rounds``
    materialized CTE waves (0.85^220 ≈ 3e-16 of the initial error — fixpoint
    to well under the 6dp output rounding; the Spark side stops on
    block-delta < 1e-13, within ~6e-13 of the same fixpoint, so both round
    identically except on measure-zero boundary luck). The symmetric graph
    has no dangling vertices and every vertex has in-links, so the
    join+groupBy form keeps all vids. AS MATERIALIZED for the same
    exponential-inlining reason as _core_numbers_sql."""
    ctes = [
        "nv AS MATERIALIZED (SELECT count(*) AS n FROM deg)",
        "pr0 AS MATERIALIZED (SELECT vid, 1.0/(SELECT n FROM nv) AS rank,"
        " degree FROM deg)",
    ]
    for i in range(1, rounds + 1):
        p = i - 1
        ctes.append(
            f"pr{i} AS MATERIALIZED (SELECT m.vid, m.rank, d.degree FROM ("
            f"SELECT s.dst AS vid,"
            f" 0.15/(SELECT n FROM nv) + 0.85*sum(r.rank/r.degree) AS rank"
            f" FROM sym s JOIN pr{p} r ON s.src = r.vid GROUP BY s.dst"
            f") m JOIN deg d ON d.vid = m.vid)"
        )
    return (
        f"WITH {E}, {', '.join(ctes)}"
        f" SELECT vid, round(rank, 6) AS rank FROM pr{rounds}"
    )


def _salsa_sql(iters: int = 2) -> str:
    """SALSA replay over the DIRECTED doc graph, unrolled — mirrors
    operators/hits.py's SALSA half-steps exactly: auth(v) = Σ hub(u)/
    outdeg(u) over u→v then L1-normalize, hub(u) = Σ fresh-auth(v)/
    indeg(v) over u→v then L1-normalize, with the nullif-sum→1.0 norm
    floor and left-join zero-fill. AS MATERIALIZED for the same
    exponential-inlining reason as _hits_sql."""
    ctes = [
        "v AS MATERIALIZED (SELECT doc_id AS vid FROM documents)",
        "nv AS MATERIALIZED (SELECT count(*) AS n FROM v)",
        "od AS MATERIALIZED (SELECT src AS vid, count(*) AS d"
        " FROM dlinks GROUP BY src)",
        "idg AS MATERIALIZED (SELECT dst AS vid, count(*) AS d"
        " FROM dlinks GROUP BY dst)",
        "s0 AS MATERIALIZED (SELECT vid, 1.0/(SELECT n FROM nv) AS hub,"
        " 1.0/(SELECT n FROM nv) AS auth FROM v)",
    ]
    for i in range(1, iters + 1):
        p = i - 1
        ctes.append(
            f"a{i}r AS MATERIALIZED (SELECT v.vid, coalesce(m.s, 0) AS r"
            f" FROM v LEFT JOIN (SELECT e.dst AS vid, sum(p.hub / o.d) AS s"
            f" FROM dlinks e JOIN s{p} p ON p.vid = e.src"
            f" JOIN od o ON o.vid = e.src GROUP BY e.dst) m"
            f" ON m.vid = v.vid)"
        )
        ctes.append(
            f"a{i} AS MATERIALIZED (SELECT vid, r /"
            f" (SELECT coalesce(nullif(sum(r), 0), 1.0) FROM a{i}r)"
            f" AS auth FROM a{i}r)"
        )
        ctes.append(
            f"h{i}r AS MATERIALIZED (SELECT v.vid, coalesce(m.s, 0) AS r"
            f" FROM v LEFT JOIN (SELECT e.src AS vid, sum(a.auth / g.d) AS s"
            f" FROM dlinks e JOIN a{i} a ON a.vid = e.dst"
            f" JOIN idg g ON g.vid = e.dst GROUP BY e.src) m"
            f" ON m.vid = v.vid)"
        )
        ctes.append(
            f"h{i} AS MATERIALIZED (SELECT vid, r /"
            f" (SELECT coalesce(nullif(sum(r), 0), 1.0) FROM h{i}r)"
            f" AS hub FROM h{i}r)"
        )
        ctes.append(
            f"s{i} AS MATERIALIZED (SELECT h.vid, h.hub, a.auth"
            f" FROM h{i} h JOIN a{i} a ON a.vid = h.vid)"
        )
    # +1e-9 midpoint nudge — must match q_salsa_iter2's final select
    return (
        f"WITH {E}, {DOC_DIRECTED_SQL.strip()}, {', '.join(ctes)}"
        f" SELECT vid, round(hub + 1e-9, 6) AS hub,"
        f" round(auth + 1e-9, 6) AS auth"
        f" FROM s{iters}"
    )


def _mrl_sql(dims=(64, 32, 16, 8), k: int = 5) -> str:
    """Truncation recall replay: per width, exact top-k over prefix-sliced
    vectors scored against the full-width exact list."""

    def topk(name: str, vexpr: str, qexpr: str) -> str:
        return f"""{name} AS MATERIALIZED (
          SELECT query_id, vec_id FROM (
            SELECT s.query_id, s.vec_id, row_number() OVER (
              PARTITION BY s.query_id ORDER BY s.cos DESC, s.vec_id ASC)
              AS rank
            FROM (SELECT q.query_id, c.vec_id,
                         round(list_cosine_similarity({qexpr}, {vexpr}), 6)
                           AS cos
                  FROM e c, q WHERE c.vec_id <> q.query_id) s
          ) WHERE rank <= {k}
        )"""

    ctes = [
        "e AS MATERIALIZED (SELECT vec_id, embedding::DOUBLE[] AS v"
        " FROM embeddings)",
        "q AS MATERIALIZED (SELECT vec_id AS query_id, v AS qv FROM e"
        " WHERE vec_id % 40 = 0)",
        topk("full_t", "c.v", "q.qv"),
        "ex AS (SELECT query_id, count(*) AS n_exact FROM full_t"
        " GROUP BY 1)",
    ]
    selects = []
    for d in dims:
        ctes.append(topk(f"t{d}", f"c.v[1:{d}]", f"q.qv[1:{d}]"))
        ctes.append(
            f"""h{d} AS (SELECT f.query_id, count(*) AS n_hit
              FROM full_t f JOIN t{d} a ON a.query_id = f.query_id
                                       AND a.vec_id = f.vec_id
              GROUP BY 1)"""
        )
        ctes.append(
            f"""p{d} AS (SELECT ex.query_id, ex.n_exact,
                  coalesce(h.n_hit, 0) AS n_hit
                FROM ex LEFT JOIN h{d} h USING (query_id))"""
        )
        selects.append(
            f"SELECT {d} AS dims, count(*)::BIGINT AS n_queries,"
            f" round(avg(n_hit::DOUBLE / n_exact), 6) AS recall_at_k,"
            f" round(avg(CASE WHEN n_hit = n_exact THEN 1.0 ELSE 0.0 END),"
            f" 6) AS frac_perfect FROM p{d}"
        )
    return "WITH " + ",\n".join(ctes) + "\n" + "\nUNION ALL ".join(selects)


def _hll_by_sql(rows_cte: str, seed: str = "hll") -> str:
    """Per-key HLL replay (operators/anf.py::hll_count_distinct_by):
    ``rows_cte`` must define rows(key, x); registers/estimate identical to
    the hll_distinct_tokens oracle, grouped by key."""
    h1 = f"('0x' || substr(md5('{seed}:' || x), 1, 1))::BIGINT"
    h2 = f"('0x' || substr(md5('{seed}:' || x), 2, 12))::BIGINT"
    rho = f"CASE WHEN {h2} = 0 THEN 49 ELSE 49 - length(bin({h2})) END"
    regs = ", ".join(
        f"CASE WHEN {h1} = {k} THEN {rho} ELSE 0 END AS r{k}"
        for k in range(16)
    )
    maxes = ", ".join(f"max(r{k}) AS r{k}" for k in range(16))
    z = " + ".join(f"power(2.0, -r{k})" for k in range(16))
    v = " + ".join(f"CASE WHEN r{k} = 0 THEN 1 ELSE 0 END" for k in range(16))
    return f"""
        WITH {rows_cte},
        rr AS (SELECT key, {regs} FROM rows),
        agg AS (SELECT key, {maxes}, count(*) AS n FROM rr GROUP BY key),
        est AS (SELECT key,
                       CASE WHEN (0.673 * 256) / ({z}) <= 40 AND ({v}) > 0
                            THEN 16.0 * ln(16.0 / ({v}))
                            ELSE (0.673 * 256) / ({z}) END AS e, n
                FROM agg)
        SELECT key AS hour, round(e, 6) AS est, n::BIGINT AS n_rows FROM est
    """


def _spectral_sql(iters: int = 4, seed: int = 42) -> str:
    """Deflated lazy power iteration replay (operators/spectral.py):
    v1 = sqrt(d)/||sqrt(d)|| static; per round Nx via the 1/sqrt(du·dv)
    weighted edges, lazy average, exact v1 deflation, L2 norm; sign of
    the 6dp-rounded final component, anchor-flipped on min vid."""
    ctes = [
        "v1n AS (SELECT sqrt(sum(degree)) AS n FROM deg)",
        f"""x0 AS MATERIALIZED (SELECT vid,
              sqrt(degree)/(SELECT n FROM v1n) AS v1,
              ('0x' || substr(md5('spec:{seed}:' || vid::VARCHAR),
                              1, 12))::BIGINT / 281474976710656.0 - 0.5
                AS x
            FROM deg)""",
        """wadj AS MATERIALIZED (SELECT s.src, s.dst,
                1.0/sqrt(d1.degree * d2.degree) AS w
              FROM sym s JOIN deg d1 ON d1.vid = s.src
                         JOIN deg d2 ON d2.vid = s.dst)""",
    ]
    for i in range(1, iters + 1):
        p = i - 1
        ctes.append(
            f"""m{i} AS MATERIALIZED (SELECT w.dst AS vid, sum(w.w * p.x) AS s
                  FROM wadj w JOIN x{p} p ON p.vid = w.src GROUP BY 1)"""
        )
        ctes.append(
            f"""l{i} AS MATERIALIZED (SELECT x.vid, x.v1,
                  (x.x + coalesce(m.s, 0)) / 2 AS nx
                FROM x{p} x LEFT JOIN m{i} m USING (vid))"""
        )
        ctes.append(f"p{i} AS (SELECT sum(nx * v1) AS p FROM l{i})")
        ctes.append(
            f"""d{i} AS MATERIALIZED (SELECT vid, v1,
                  nx - (SELECT p FROM p{i}) * v1 AS y FROM l{i})"""
        )
        ctes.append(
            f"""n{i} AS (SELECT coalesce(nullif(sqrt(sum(y*y)), 0), 1.0)
                  AS n FROM d{i})"""
        )
        ctes.append(
            f"""x{i} AS MATERIALIZED (SELECT vid, v1, y / (SELECT n FROM n{i}) AS x
                FROM d{i})"""
        )
    ctes.append(
        f"""sides AS MATERIALIZED (SELECT vid,
              CASE WHEN round(x, 6) >= 0 THEN 1 ELSE 0 END AS s
            FROM x{iters})"""
    )
    ctes.append("anchor AS (SELECT s FROM sides ORDER BY vid LIMIT 1)")
    return (
        f"WITH {E}, {', '.join(ctes)}"
        " SELECT vid, CASE WHEN (SELECT s FROM anchor) = 1"
        " THEN 1 - s ELSE s END AS side FROM sides"
    )


def _hits_sql(iters: int = 2) -> str:
    """HITS replay over the DIRECTED doc graph, unrolled: per iteration one
    auth update (sum of in-neighbor hubs, L2-normalized) then one hub update
    (sum of out-neighbor FRESH auths, L2-normalized) — mirroring
    operators/hits.py's two half-steps exactly, including the
    nullif-sqrt→1.0 norm floor and the left-join zero-fill. AS MATERIALIZED
    for the same exponential-inlining reason as _core_numbers_sql."""
    ctes = [
        "v AS MATERIALIZED (SELECT doc_id AS vid FROM documents)",
        "nv AS MATERIALIZED (SELECT count(*) AS n FROM v)",
        "s0 AS MATERIALIZED (SELECT vid, 1.0/sqrt((SELECT n FROM nv)) AS hub,"
        " 1.0/sqrt((SELECT n FROM nv)) AS auth FROM v)",
    ]
    for i in range(1, iters + 1):
        p = i - 1
        ctes.append(
            f"a{i}r AS MATERIALIZED (SELECT v.vid, coalesce(m.s, 0) AS r"
            f" FROM v LEFT JOIN (SELECT e.dst AS vid, sum(p.hub) AS s"
            f" FROM dlinks e JOIN s{p} p ON p.vid = e.src GROUP BY e.dst) m"
            f" ON m.vid = v.vid)"
        )
        ctes.append(
            f"a{i} AS MATERIALIZED (SELECT vid, r /"
            f" (SELECT coalesce(nullif(sqrt(sum(r*r)), 0), 1.0) FROM a{i}r)"
            f" AS auth FROM a{i}r)"
        )
        ctes.append(
            f"h{i}r AS MATERIALIZED (SELECT v.vid, coalesce(m.s, 0) AS r"
            f" FROM v LEFT JOIN (SELECT e.src AS vid, sum(a.auth) AS s"
            f" FROM dlinks e JOIN a{i} a ON a.vid = e.dst GROUP BY e.src) m"
            f" ON m.vid = v.vid)"
        )
        ctes.append(
            f"h{i} AS MATERIALIZED (SELECT vid, r /"
            f" (SELECT coalesce(nullif(sqrt(sum(r*r)), 0), 1.0) FROM h{i}r)"
            f" AS hub FROM h{i}r)"
        )
        ctes.append(
            f"s{i} AS MATERIALIZED (SELECT h.vid, h.hub, a.auth"
            f" FROM h{i} h JOIN a{i} a ON a.vid = h.vid)"
        )
    return (
        f"WITH {E}, {DOC_DIRECTED_SQL.strip()}, {', '.join(ctes)}"
        f" SELECT vid, round(hub, 6) AS hub, round(auth, 6) AS auth"
        f" FROM s{iters}"
    )


def _kcore_sql(k: int, rounds: int = 24) -> str:
    """Fixed-k peeling to the fixpoint, unrolled (mirrors
    kcore.kcore_subgraph): drop vertices with degree < k until stable;
    extra rounds are no-ops. AS MATERIALIZED for the same exponential-
    inlining reason as _core_numbers_sql."""
    ctes = ["e0 AS MATERIALIZED (SELECT src, dst FROM sym)"]
    for i in range(1, rounds + 1):
        p = i - 1
        ctes.append(
            f"keep{i} AS MATERIALIZED (SELECT src AS v FROM e{p} GROUP BY src"
            f" HAVING count(*) >= {k})"
        )
        ctes.append(
            f"e{i} AS MATERIALIZED (SELECT src, dst FROM e{p}"
            f" WHERE src IN (SELECT v FROM keep{i}) AND dst IN (SELECT v FROM keep{i}))"
        )
    return f"WITH {{E}}, {', '.join(ctes)} SELECT src, dst FROM e{rounds}".replace(
        "{E}", E
    )


_SUPPORT = """
  sides AS (
    SELECT i AS src, j AS dst FROM tri
    UNION ALL SELECT i AS src, k AS dst FROM tri
    UNION ALL SELECT j AS src, k AS dst FROM tri
  ),
  sup AS (
    SELECT u.src, u.dst, CAST(coalesce(s.c, 0) AS BIGINT) AS support
    FROM und u LEFT JOIN (
      SELECT src, dst, count(*) AS c FROM sides GROUP BY src, dst
    ) s ON s.src = u.src AND s.dst = u.dst
  )
"""


def _truss_round_ctes(i: int, prev: str) -> list[str]:
    """One peel wave over edge CTE ``prev``: triangles → per-edge support
    (zero-filled). Shared by the fixed-k and full-decomposition unrolls."""
    return [
        f"tri{i} AS MATERIALIZED (SELECT e1.src AS i, e1.dst AS j, e2.dst AS k"
        f" FROM {prev} e1 JOIN {prev} e2 ON e2.src = e1.src AND e2.dst > e1.dst"
        f" JOIN {prev} e3 ON e3.src = e1.dst AND e3.dst = e2.dst)",
        f"sup{i} AS MATERIALIZED (SELECT t.src, t.dst, CAST(coalesce(s.c, 0) AS BIGINT) AS c"
        f" FROM {prev} t LEFT JOIN ("
        f"   SELECT src, dst, count(*) AS c FROM ("
        f"     SELECT i AS src, j AS dst FROM tri{i}"
        f"     UNION ALL SELECT i AS src, k AS dst FROM tri{i}"
        f"     UNION ALL SELECT j AS src, k AS dst FROM tri{i}"
        f"   ) GROUP BY src, dst"
        f" ) s ON s.src = t.src AND s.dst = t.dst)",
    ]


def _ktruss_sql(k: int, rounds: int = 12) -> str:
    """Fixed-k truss peel to the fixpoint, unrolled (mirrors
    truss.ktruss_edges): drop edges with support < k−2 until stable; extra
    rounds are no-ops. AS MATERIALIZED for the same exponential-inlining
    reason as _core_numbers_sql."""
    ctes = ["t0 AS MATERIALIZED (SELECT src, dst FROM und)"]
    for i in range(1, rounds + 1):
        ctes += _truss_round_ctes(i, f"t{i - 1}")
        ctes.append(
            f"t{i} AS MATERIALIZED (SELECT src, dst FROM sup{i} WHERE c >= {k - 2})"
        )
    return f"WITH {E}, {', '.join(ctes)} SELECT src, dst FROM t{rounds}"


def _truss_numbers_sql(rounds: int = 16) -> str:
    """Full truss decomposition unrolled (mirrors truss.truss_numbers):
    per wave the level k is the running max of (min support + 2); edges
    with support ≤ k−2 peel at level k. Same carried-level CTE pattern as
    _core_numbers_sql."""
    ctes = [
        "t0 AS MATERIALIZED (SELECT src, dst FROM und)",
        "k0 AS MATERIALIZED (SELECT CAST(2 AS BIGINT) AS k)",
    ]
    for i in range(1, rounds + 1):
        p = i - 1
        ctes += _truss_round_ctes(i, f"t{p}")
        ctes.append(
            f"k{i} AS MATERIALIZED (SELECT greatest("
            f"coalesce((SELECT min(c) FROM sup{i}), 0) + 2,"
            f" (SELECT k FROM k{p})) AS k)"
        )
        ctes.append(
            f"g{i} AS MATERIALIZED (SELECT src, dst, (SELECT k FROM k{i}) AS truss"
            f" FROM sup{i} WHERE c <= (SELECT k FROM k{i}) - 2)"
        )
        ctes.append(
            f"t{i} AS MATERIALIZED (SELECT src, dst FROM sup{i}"
            f" WHERE c > (SELECT k FROM k{i}) - 2)"
        )
    unions = " UNION ALL ".join(
        f"SELECT src, dst, truss FROM g{i}" for i in range(1, rounds + 1)
    )
    return f"WITH {E}, {', '.join(ctes)} SELECT src, dst, truss FROM ({unions})"


_HOST_GRAPH = """
  hm AS (SELECT doc_id, source FROM documents),
  he AS MATERIALIZED (
    SELECT x.source AS src, y.source AS dst, CAST(count(*) AS DOUBLE) AS w
    FROM dlinks e JOIN hm x ON x.doc_id = e.src JOIN hm y ON y.doc_id = e.dst
    WHERE x.source <> y.source GROUP BY x.source, y.source
  ),
  hv AS MATERIALIZED (SELECT DISTINCT source AS vid FROM documents),
  nh AS (SELECT count(*) AS n FROM hv),
  wt AS MATERIALIZED (SELECT src AS vid, sum(w) AS wt FROM he GROUP BY src)
"""


def _host_pr_ctes(iters: int, pfx: str = "r") -> list[str]:
    """Weighted directed host PageRank unrolled — mirrors
    operators/pagerank.py::weighted_pagerank INCLUDING the dangling fold:
    rank = (1-d)/n + d·dm/n + d·in_mass, dm = Σ rank over hosts with no
    out-links (0 when none exist, collapsing to the dangling-free branch).
    CTE names are prefixed so two chains can share one WITH block."""
    ctes = [
        f"{pfx}0 AS MATERIALIZED"
        " (SELECT vid, 1.0/(SELECT n FROM nh) AS rank FROM hv)"
    ]
    for i in range(1, iters + 1):
        p = i - 1
        ctes.append(
            f"{pfx}dm{i} AS MATERIALIZED (SELECT coalesce(sum(rank), 0) AS dm"
            f" FROM {pfx}{p} WHERE vid NOT IN (SELECT vid FROM wt))"
        )
        ctes.append(
            f"{pfx}m{i} AS MATERIALIZED (SELECT g.dst AS vid,"
            f" sum(g.w * r.rank / t.wt) AS s"
            f" FROM he g JOIN {pfx}{p} r ON g.src = r.vid"
            f" JOIN wt t ON t.vid = g.src GROUP BY g.dst)"
        )
        ctes.append(
            f"{pfx}{i} AS MATERIALIZED (SELECT v.vid,"
            f" 0.15/(SELECT n FROM nh)"
            f" + 0.85*(SELECT dm FROM {pfx}dm{i})/(SELECT n FROM nh)"
            f" + 0.85*coalesce(m.s, 0) AS rank"
            f" FROM hv v LEFT JOIN {pfx}m{i} m ON m.vid = v.vid)"
        )
    return ctes


def _host_pr_sql(iters: int = 2) -> str:
    ctes = _host_pr_ctes(iters)
    return (
        f"WITH {E}, {DOC_DIRECTED_SQL.strip()}, {_HOST_GRAPH}, {', '.join(ctes)}"
        f" SELECT vid AS host, round(rank, 6) AS rank FROM r{iters}"
    )


def _tr_seed_ctes(pred: str = "< 4") -> list[str]:
    """Deterministic seed rule replayed verbatim from
    operators/trustrank.py::trusted_seed_hosts / spam_seed_hosts (md5 hex
    is engine-portable); ``pred`` is the first-hex-digit predicate."""
    return [
        "seeds AS MATERIALIZED (SELECT vid FROM hv"
        f" WHERE ('0x' || substr(md5(vid), 1, 1))::BIGINT {pred})",
        "ns AS (SELECT count(*) AS n FROM seeds)",
        "ev AS MATERIALIZED (SELECT v.vid, CASE WHEN s.vid IS NOT NULL"
        " THEN 1.0/(SELECT n FROM ns) ELSE 0.0 END AS e"
        " FROM hv v LEFT JOIN seeds s ON s.vid = v.vid)",
    ]


def _host_tr_ctes(
    iters: int, pfx: str = "t", edges: str = "he", wt: str = "wt"
) -> list[str]:
    """Weighted host TrustRank unrolled — mirrors
    operators/trustrank.py::trustrank: init rank = e (the teleport
    vector), rank = (1−d)·e + d·(in_mass + dm·e); dangling mass teleports
    back to the seeds ∝ e. Requires a _tr_seed_ctes block; ``edges``/``wt``
    name the (src, dst, w) table and its per-src out-weight — pass the
    reversed pair for anti-TrustRank."""
    ctes = [f"{pfx}0 AS MATERIALIZED (SELECT vid, e AS rank FROM ev)"]
    for i in range(1, iters + 1):
        p = i - 1
        ctes.append(
            f"{pfx}dm{i} AS MATERIALIZED (SELECT coalesce(sum(rank), 0) AS dm"
            f" FROM {pfx}{p} WHERE vid NOT IN (SELECT vid FROM {wt}))"
        )
        ctes.append(
            f"{pfx}m{i} AS MATERIALIZED (SELECT g.dst AS vid,"
            f" sum(g.w * r.rank / t.wt) AS s"
            f" FROM {edges} g JOIN {pfx}{p} r ON g.src = r.vid"
            f" JOIN {wt} t ON t.vid = g.src GROUP BY g.dst)"
        )
        ctes.append(
            f"{pfx}{i} AS MATERIALIZED (SELECT v.vid,"
            f" 0.15*v.e + 0.85*(coalesce(m.s, 0)"
            f" + (SELECT dm FROM {pfx}dm{i})*v.e) AS rank"
            f" FROM ev v LEFT JOIN {pfx}m{i} m ON m.vid = v.vid)"
        )
    return ctes


def _host_trustrank_sql(iters: int = 2) -> str:
    ctes = _tr_seed_ctes() + _host_tr_ctes(iters)
    return (
        f"WITH {E}, {DOC_DIRECTED_SQL.strip()}, {_HOST_GRAPH}, {', '.join(ctes)}"
        f" SELECT vid AS host, round(rank, 6) AS rank FROM t{iters}"
    )


def _host_antitrust_sql(iters: int = 2) -> str:
    """Anti-TrustRank: the TR chain on the REVERSED host graph with the
    blacklist seed rule (md5 digit ≥ 12) — mirrors
    operators/trustrank.py::anti_trustrank."""
    rev = [
        "her AS MATERIALIZED (SELECT dst AS src, src AS dst, w FROM he)",
        "wtr AS MATERIALIZED"
        " (SELECT src AS vid, sum(w) AS wt FROM her GROUP BY src)",
    ]
    ctes = rev + _tr_seed_ctes(">= 12") + _host_tr_ctes(
        iters, edges="her", wt="wtr"
    )
    return (
        f"WITH {E}, {DOC_DIRECTED_SQL.strip()}, {_HOST_GRAPH}, {', '.join(ctes)}"
        f" SELECT vid AS host, round(rank, 6) AS rank FROM t{iters}"
    )


def _host_spam_mass_sql(iters: int = 2) -> str:
    """VLDB'06 spam-mass estimation: both rank chains (uniform-teleport PR
    and seed-teleport TR) unrolled side-by-side in one WITH block; mass and
    rel_mass computed from the UNROUNDED doubles, rounded 6dp at the end —
    mirrors q_spam_mass_hosts exactly."""
    ctes = (
        _host_pr_ctes(iters, pfx="p")
        + _tr_seed_ctes()
        + _host_tr_ctes(iters, pfx="t")
    )
    return (
        f"WITH {E}, {DOC_DIRECTED_SQL.strip()}, {_HOST_GRAPH}, {', '.join(ctes)}"
        f" SELECT p.vid AS host, round(p.rank, 6) AS pr, round(t.rank, 6) AS tr,"
        f" round(p.rank - t.rank, 6) AS mass,"
        f" round((p.rank - t.rank) / p.rank, 6) AS rel_mass"
        f" FROM p{iters} p JOIN t{iters} t ON t.vid = p.vid"
    )


def _closeness_sql(max_depth: int = 10, mod: int = 41) -> str:
    """Pivot BFS replay for harmonic closeness — the forward chain of
    _betweenness_sql without σ (DISTINCT per level suffices for hop
    distances), then one aggregate: count / Σd / (n/k)·Σ1/d rounded 6dp,
    zero-filled over the vertex set. Truncation-consistent at max_depth."""
    ctes = [
        f"piv AS MATERIALIZED (SELECT vid AS s FROM deg WHERE vid % {mod} = 0)",
        "kk AS (SELECT count(*) AS k FROM piv)",
        "nn AS (SELECT count(*) AS n FROM deg)",
        "cl0 AS MATERIALIZED (SELECT s, s AS vid FROM piv)",
        "cv0 AS MATERIALIZED (SELECT s, vid FROM cl0)",
        "cs0 AS MATERIALIZED (SELECT s, vid, 0 AS dist FROM cl0)",
    ]
    for i in range(1, max_depth + 1):
        p = i - 1
        ctes.append(
            f"cl{i} AS MATERIALIZED (SELECT DISTINCT f.s, e.dst AS vid"
            f" FROM cl{p} f JOIN sym e ON e.src = f.vid"
            f" LEFT JOIN cv{p} x ON x.s = f.s AND x.vid = e.dst"
            f" WHERE x.vid IS NULL)"
        )
        ctes.append(
            f"cv{i} AS MATERIALIZED (SELECT s, vid FROM cv{p}"
            f" UNION ALL SELECT s, vid FROM cl{i})"
        )
        ctes.append(
            f"cs{i} AS MATERIALIZED (SELECT s, vid, dist FROM cs{p}"
            f" UNION ALL SELECT s, vid, {i} AS dist FROM cl{i})"
        )
    ctes.append(
        f"agg AS (SELECT vid, count(*) AS n_sources,"
        f" sum(dist)::BIGINT AS sum_dist,"
        f" round(sum(1.0 / dist) * (SELECT n FROM nn)"
        f" / (SELECT k FROM kk), 6) AS harmonic"
        f" FROM cs{max_depth} WHERE dist > 0 GROUP BY vid)"
    )
    return (
        f"WITH {E}, {', '.join(ctes)}"
        f" SELECT d.vid, coalesce(a.n_sources, 0)::BIGINT AS n_sources,"
        f" coalesce(a.sum_dist, 0)::BIGINT AS sum_dist,"
        f" coalesce(a.harmonic, 0.0) AS harmonic"
        f" FROM deg d LEFT JOIN agg a ON a.vid = d.vid"
    )


def _mis_sql(rounds: int = 8, seed: int = 42) -> str:
    """Luby MIS replay — mirrors operators/mis.py round by round: md5
    priority, neighbor-min, strict-minimum winners (no active neighbor →
    automatic winner), winners+neighbors deactivate, edges shrink to the
    surviving actives. Rounds past convergence are empty no-ops on both
    engines."""
    ctes = [
        "a0 AS MATERIALIZED (SELECT vid FROM deg)",
        "e0 AS MATERIALIZED (SELECT src, dst FROM sym)",
    ]
    for r in range(rounds):
        ctes.append(
            f"pr{r} AS MATERIALIZED (SELECT vid,"
            f" md5('mis:{seed}:{r}:' || vid::VARCHAR) AS p FROM a{r})"
        )
        ctes.append(
            f"nm{r} AS MATERIALIZED (SELECT e.src AS vid, min(p.p) AS np"
            f" FROM e{r} e JOIN pr{r} p ON p.vid = e.dst GROUP BY e.src)"
        )
        ctes.append(
            f"w{r} AS MATERIALIZED (SELECT a.vid FROM pr{r} a"
            f" LEFT JOIN nm{r} m ON m.vid = a.vid"
            f" WHERE m.np IS NULL OR a.p < m.np)"
        )
        ctes.append(
            f"rm{r} AS MATERIALIZED (SELECT vid FROM w{r}"
            f" UNION SELECT e.dst AS vid FROM e{r} e"
            f" JOIN w{r} w ON w.vid = e.src)"
        )
        ctes.append(
            f"a{r + 1} AS MATERIALIZED (SELECT vid FROM a{r}"
            f" WHERE vid NOT IN (SELECT vid FROM rm{r}))"
        )
        ctes.append(
            f"e{r + 1} AS MATERIALIZED (SELECT src, dst FROM e{r}"
            f" WHERE src IN (SELECT vid FROM a{r + 1})"
            f" AND dst IN (SELECT vid FROM a{r + 1}))"
        )
    final = " UNION ALL ".join(f"SELECT vid FROM w{r}" for r in range(rounds))
    return f"WITH {E}, {', '.join(ctes)} {final}"


def _coloring_sql(rounds: int = 24, seed: int = 42) -> str:
    """Jones–Plassmann replay — mirrors operators/mis.py::
    jones_plassmann_coloring round by round: static md5 priority,
    ready = strict minimum among uncolored neighbors, color = mex of the
    sorted distinct colored-neighbor colors (first index ≠ value, else
    list length; generate_series(0,-1) = [] makes the empty case mex 0)."""
    mex = (
        "coalesce(list_min(list_filter(list_transform("
        "generate_series(0, len(cs)-1),"
        " i -> CASE WHEN cs[i+1] <> i THEN i END),"
        " x -> x IS NOT NULL)), len(cs))"
    )
    ctes = [
        f"ap AS MATERIALIZED (SELECT vid,"
        f" md5('col:{seed}:' || vid::VARCHAR) AS p FROM deg)",
        "u0 AS MATERIALIZED (SELECT vid, p FROM ap)",
        "ue0 AS MATERIALIZED (SELECT src, dst FROM sym)",
        "col0 AS MATERIALIZED (SELECT vid, 0 AS color FROM deg WHERE 1=0)",
    ]
    for r in range(rounds):
        ctes.append(
            f"nm{r} AS MATERIALIZED (SELECT e.src AS vid, min(p.p) AS np"
            f" FROM ue{r} e JOIN u{r} p ON p.vid = e.dst GROUP BY e.src)"
        )
        ctes.append(
            f"rd{r} AS MATERIALIZED (SELECT u.vid FROM u{r} u"
            f" LEFT JOIN nm{r} m ON m.vid = u.vid"
            f" WHERE m.np IS NULL OR u.p < m.np)"
        )
        ctes.append(
            f"ns{r} AS MATERIALIZED (SELECT r.vid,"
            f" list_sort(list_distinct(list(c.color))) AS cs"
            f" FROM rd{r} r JOIN sym e ON e.src = r.vid"
            f" JOIN col{r} c ON c.vid = e.dst GROUP BY r.vid)"
        )
        ctes.append(
            f"nw{r} AS MATERIALIZED (SELECT r.vid,"
            f" CASE WHEN n.cs IS NULL THEN 0 ELSE {mex} END AS color"
            f" FROM rd{r} r LEFT JOIN ns{r} n ON n.vid = r.vid)"
        )
        ctes.append(
            f"col{r + 1} AS MATERIALIZED (SELECT vid, color FROM col{r}"
            f" UNION ALL SELECT vid, color FROM nw{r})"
        )
        ctes.append(
            f"u{r + 1} AS MATERIALIZED (SELECT vid, p FROM u{r}"
            f" WHERE vid NOT IN (SELECT vid FROM rd{r}))"
        )
        ctes.append(
            f"ue{r + 1} AS MATERIALIZED (SELECT src, dst FROM ue{r}"
            f" WHERE src IN (SELECT vid FROM u{r + 1})"
            f" AND dst IN (SELECT vid FROM u{r + 1}))"
        )
    return (
        f"WITH {E}, {', '.join(ctes)}"
        f" SELECT vid, color::INT AS color FROM col{rounds}"
    )


def _betweenness_sql(max_depth: int = 10, mod: int = 41) -> str:
    """Full pivot-Brandes replay — mirrors operators/betweenness.py level
    by level: forward BFS with σ sums (anti-join vs the cumulative visited
    set), backward δ(v) = σ_v·Σ(1+δ_w)/σ_w per level, estimate scaled
    n/k and halved for the undirected convention. σ/δ are DOUBLE on both
    engines; levels beyond the true diameter are empty no-ops, so both
    sides truncate identically at max_depth."""
    ctes = [
        f"piv AS MATERIALIZED (SELECT vid AS s FROM deg WHERE vid % {mod} = 0)",
        "kk AS (SELECT count(*) AS k FROM piv)",
        "nn AS (SELECT count(*) AS n FROM deg)",
        "l0 AS MATERIALIZED"
        " (SELECT s, s AS vid, CAST(1 AS DOUBLE) AS sigma FROM piv)",
        "v0 AS MATERIALIZED (SELECT s, vid FROM l0)",
    ]
    for i in range(1, max_depth + 1):
        p = i - 1
        ctes.append(
            f"l{i} AS MATERIALIZED (SELECT f.s, e.dst AS vid,"
            f" sum(f.sigma) AS sigma"
            f" FROM l{p} f JOIN sym e ON e.src = f.vid"
            f" LEFT JOIN v{p} x ON x.s = f.s AND x.vid = e.dst"
            f" WHERE x.vid IS NULL GROUP BY f.s, e.dst)"
        )
        ctes.append(
            f"v{i} AS MATERIALIZED (SELECT s, vid FROM v{p}"
            f" UNION ALL SELECT s, vid FROM l{i})"
        )
    ctes.append(
        f"d{max_depth} AS MATERIALIZED (SELECT s, vid, sigma,"
        f" CAST(0 AS DOUBLE) AS delta FROM l{max_depth})"
    )
    for lvl in range(max_depth - 1, -1, -1):
        ctes.append(
            f"d{lvl} AS MATERIALIZED (SELECT c.s, c.vid, c.sigma,"
            f" c.sigma * coalesce(m.ms, 0) AS delta"
            f" FROM l{lvl} c LEFT JOIN ("
            f"   SELECT w.s, e.dst AS vid, sum((1 + w.delta) / w.sigma) AS ms"
            f"   FROM d{lvl + 1} w JOIN sym e ON e.src = w.vid"
            f"   GROUP BY w.s, e.dst"
            f" ) m ON m.s = c.s AND m.vid = c.vid)"
        )
    unions = " UNION ALL ".join(
        f"SELECT s, vid, delta FROM d{i}" for i in range(max_depth + 1)
    )
    ctes.append(
        f"dep AS (SELECT vid, sum(delta) AS dp FROM ({unions})"
        f" WHERE vid <> s GROUP BY vid)"
    )
    return (
        f"WITH {E}, {', '.join(ctes)}"
        f" SELECT g.vid, round(coalesce(dep.dp, 0)"
        f" * (SELECT n FROM nn) / (SELECT k FROM kk) / 2.0, 6) AS bc"
        f" FROM deg g LEFT JOIN dep ON dep.vid = g.vid"
    )


def _frontier_score_ctes(iters: int = 2) -> list:
    """Shared unroll for the frontier-family oracles: crawled-subgraph
    PageRank (induced out-degrees, uniform dangling fold) + frontier mass
    aggregation over FULL out-degrees, through the ``fr`` CTE."""
    ctes = [
        "cr AS MATERIALIZED"
        " (SELECT doc_id AS vid FROM documents WHERE doc_id % 7 <> 0)",
        "ncr AS (SELECT count(*) AS n FROM cr)",
        "ec AS MATERIALIZED (SELECT e.src, e.dst FROM dlinks e"
        " JOIN cr c ON c.vid = e.src)",
        "odeg AS MATERIALIZED (SELECT src, count(*) AS od FROM ec GROUP BY src)",
        "ind AS MATERIALIZED (SELECT e.src, e.dst FROM ec e"
        " JOIN cr c ON c.vid = e.dst)",
        "iod AS MATERIALIZED (SELECT src AS vid, count(*) AS od"
        " FROM ind GROUP BY src)",
        "c0 AS MATERIALIZED (SELECT vid, 1.0/(SELECT n FROM ncr) AS rank FROM cr)",
    ]
    for i in range(1, iters + 1):
        p = i - 1
        ctes.append(
            f"cdm{i} AS MATERIALIZED (SELECT coalesce(sum(rank), 0) AS dm"
            f" FROM c{p} WHERE vid NOT IN (SELECT vid FROM iod))"
        )
        ctes.append(
            f"cm{i} AS MATERIALIZED (SELECT e.dst AS vid, sum(r.rank / o.od) AS s"
            f" FROM ind e JOIN c{p} r ON r.vid = e.src"
            f" JOIN iod o ON o.vid = e.src GROUP BY e.dst)"
        )
        ctes.append(
            f"c{i} AS MATERIALIZED (SELECT v.vid,"
            f" 0.15/(SELECT n FROM ncr)"
            f" + 0.85*(SELECT dm FROM cdm{i})/(SELECT n FROM ncr)"
            f" + 0.85*coalesce(m.s, 0) AS rank"
            f" FROM cr v LEFT JOIN cm{i} m ON m.vid = v.vid)"
        )
    ctes.append(
        f"fr AS MATERIALIZED (SELECT e.dst AS vid, sum(r.rank / o.od) AS score,"
        f" count(*) AS n_inlinks"
        f" FROM ec e JOIN c{iters} r ON r.vid = e.src"
        f" JOIN odeg o ON o.src = e.src"
        f" WHERE e.dst NOT IN (SELECT vid FROM cr) GROUP BY e.dst)"
    )
    return ctes


def _crawl_frontier_sql(iters: int = 2, k: int = 5) -> str:
    """Mirrors q_crawl_frontier: per-host top-k over the 6dp-rounded
    frontier score (vid tiebreak)."""
    ctes = _frontier_score_ctes(iters)
    ctes.append(
        "sc AS (SELECT d.source AS host, f.vid, round(f.score, 6) AS score,"
        " f.n_inlinks, row_number() OVER (PARTITION BY d.source"
        " ORDER BY round(f.score, 6) DESC, f.vid) AS rnk"
        " FROM fr f JOIN documents d ON d.doc_id = f.vid)"
    )
    return (
        f"WITH {E}, {DOC_DIRECTED_SQL.strip()}, {', '.join(ctes)}"
        f" SELECT host, vid, score, n_inlinks, rnk FROM sc WHERE rnk <= {k}"
    )


def _crawl_schedule_sql(iters: int = 2, rate: int = 3) -> str:
    """Mirrors q_crawl_schedule: the FULL frontier laid into per-host
    politeness waves — slot = per-host rank, wave = ceil(slot/rate)."""
    ctes = _frontier_score_ctes(iters)
    ctes.append(
        "sc AS (SELECT d.source AS host, f.vid, round(f.score, 6) AS score,"
        " row_number() OVER (PARTITION BY d.source"
        " ORDER BY round(f.score, 6) DESC, f.vid) AS slot"
        " FROM fr f JOIN documents d ON d.doc_id = f.vid)"
    )
    return (
        f"WITH {E}, {DOC_DIRECTED_SQL.strip()}, {', '.join(ctes)}"
        f" SELECT host, vid, score, slot::BIGINT AS slot,"
        f" CAST(ceil(slot / {rate}.0) AS BIGINT) AS wave FROM sc"
    )


def _louvain_sql(rounds: int = 2, aggregate: bool = False) -> str:
    """Round-for-round replay of louvain.py::louvain_move — all-integer
    scoring (2m-scaled gain), alternating-parity activity, Grappolo
    singleton guard, (score2 desc, c asc) argmax. ``aggregate``: emit
    the phase-2 community-graph rollup instead of the labels."""
    ctes = [
        "m2 AS (SELECT count(*) AS v FROM sym)",
        "l0 AS MATERIALIZED (SELECT vid, vid AS c, degree AS k FROM deg)",
    ]
    for r in range(1, rounds + 1):
        p = r - 1
        ctes.append(
            f"comm{r} AS MATERIALIZED (SELECT c, sum(k) AS tot,"
            f" count(*) AS csize FROM l{p} GROUP BY c)"
        )
        ctes.append(
            f"kvc{r} AS MATERIALIZED (SELECT s.src AS vid, l.c,"
            f" count(*) AS kvc FROM sym s JOIN l{p} l ON l.vid = s.dst"
            f" WHERE (s.src + {r}) % 2 = 0 GROUP BY s.src, l.c)"
        )
        ctes.append(
            f"cand{r} AS (SELECT vid, c, max(kvc) AS kvc FROM ("
            f"SELECT vid, c, kvc FROM kvc{r}"
            f" UNION ALL SELECT vid, c, 0 FROM l{p} WHERE (vid + {r}) % 2 = 0)"
            f" GROUP BY vid, c)"
        )
        ctes.append(
            f"sc{r} AS (SELECT d.vid, d.c,"
            f" (SELECT v FROM m2)*d.kvc - l.k*(co.tot"
            f" - CASE WHEN d.c = l.c THEN l.k ELSE 0 END) AS score2,"
            f" l.c AS cur, co.csize, cu.csize AS cur_size"
            f" FROM cand{r} d JOIN l{p} l ON l.vid = d.vid"
            f" JOIN comm{r} co ON co.c = d.c"
            f" JOIN comm{r} cu ON cu.c = l.c)"
        )
        ctes.append(
            f"mv{r} AS (SELECT vid, c FROM ("
            f"SELECT vid, c, row_number() OVER (PARTITION BY vid"
            f" ORDER BY score2 DESC, c ASC) AS rn FROM sc{r}"
            f" WHERE NOT (cur_size = 1 AND csize = 1 AND c > cur))"
            f" WHERE rn = 1)"
        )
        ctes.append(
            f"l{r} AS MATERIALIZED (SELECT m.vid, m.c, d.degree AS k"
            f" FROM mv{r} m JOIN deg d ON d.vid = m.vid"
            f" UNION ALL SELECT vid, c, k FROM l{p}"
            f" WHERE (vid + {r}) % 2 <> 0)"
        )
    final = (
        f"SELECT vid, c AS community FROM l{rounds}"
        if not aggregate
        else f"SELECT la.c AS src_c, lb.c AS dst_c, count(*)::BIGINT AS weight"
        f" FROM sym s JOIN l{rounds} la ON la.vid = s.src"
        f" JOIN l{rounds} lb ON lb.vid = s.dst GROUP BY la.c, lb.c"
    )
    return f"WITH {E}, " + ", ".join(ctes) + " " + final


def _pq_sql(final: str, n_sub: int = 8, ks: int = 16, qmod: int = 50, k: int = 5) -> str:
    """Replay of operators/pq.py: deterministic first-ks codebook,
    textually-expanded per-subspace squared distances (::DOUBLE casts
    match Spark's cast-then-subtract; left-assoc + matches F.aggregate's
    fold order bit-for-bit), 6dp rounding before every argmin/sum."""
    dims_row = 64  # embeddings table width (TESTDATA.md)
    sub = dims_row // n_sub

    def d2(lhs: str, s: int) -> str:
        terms = " + ".join(
            f"({lhs}[{s * sub + t}]::DOUBLE - c.dv[{s * sub + t}]::DOUBLE)"
            f"*({lhs}[{s * sub + t}]::DOUBLE - c.dv[{s * sub + t}]::DOUBLE)"
            for t in range(1, sub + 1)
        )
        return f"round({terms}, 6)"

    dist_union = " UNION ALL ".join(
        f"SELECT e.vec_id, c.j, {s} AS sub, {d2('e.embedding', s)} AS d"
        f" FROM embeddings e, cb c"
        for s in range(n_sub)
    )
    qd_union = " UNION ALL ".join(
        f"SELECT q.query_id, c.j AS code, {s} AS sub, {d2('q.qv', s)} AS d"
        f" FROM q, cb c"
        for s in range(n_sub)
    )
    ctes = (
        f"cb AS MATERIALIZED (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS j,"
        f" embedding AS dv FROM (SELECT vec_id, embedding FROM embeddings"
        f" ORDER BY vec_id LIMIT {ks})),"
        f" dists AS ({dist_union}),"
        f" enc AS MATERIALIZED (SELECT vec_id, sub, j AS code FROM ("
        f"SELECT vec_id, sub, j, row_number() OVER (PARTITION BY vec_id, sub"
        f" ORDER BY d ASC, j ASC) AS rn FROM dists) WHERE rn = 1)"
    )
    if final == "codes":
        return f"WITH {ctes} SELECT vec_id, sub, code FROM enc"
    return (
        f"WITH {ctes},"
        f" q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings"
        f" WHERE vec_id % {qmod} = 0),"
        f" qd AS ({qd_union}),"
        f" sc AS (SELECT d.query_id, e.vec_id, round(sum(d.d), 6) AS adc"
        f" FROM enc e JOIN qd d ON d.sub = e.sub AND d.code = e.code"
        f" WHERE e.vec_id <> d.query_id GROUP BY d.query_id, e.vec_id)"
        f" SELECT query_id, vec_id, adc, rank FROM ("
        f"SELECT query_id, vec_id, adc, row_number() OVER ("
        f"PARTITION BY query_id ORDER BY adc ASC, vec_id ASC) AS rank"
        f" FROM sc) WHERE rank <= {k}"
    )


def _hitting_sql(iters: int = 6, mod: int = 97) -> str:
    """Unrolled truncated hitting-time value iteration (hittime.py):
    h^{{t+1}} = 0 on targets else 1 + avg over neighbors of h^t."""
    ctes = ["t0 AS MATERIALIZED (SELECT vid, 0.0 AS h FROM deg)"]
    for i in range(1, iters + 1):
        ctes.append(
            f"t{i} AS MATERIALIZED (SELECT d.vid,"
            f" CASE WHEN d.vid % {mod} = 0 THEN 0.0 ELSE 1 + m.a END AS h"
            f" FROM deg d JOIN (SELECT s.src AS vid, avg(r.h) AS a"
            f" FROM sym s JOIN t{i - 1} r ON r.vid = s.dst GROUP BY s.src) m"
            f" ON m.vid = d.vid)"
        )
    return (
        f"WITH {E}, " + ", ".join(ctes)
        + f" SELECT vid, round(h, 6) AS h FROM t{iters}"
    )


def _walks_ctes(num_steps: int = 4, seed: int = 42) -> tuple[list, str]:
    """Shared unroll for the walk-family oracles: every hop of
    operators/walks.py::random_walks replayed (sorted adjacency lists,
    index = first 6 hex digits of md5('w:seed:walk:step:vid') mod degree,
    1-based list pick). Returns (cte_list, trajectory-union select)."""
    ctes = [
        "adj AS MATERIALIZED (SELECT src, list(dst ORDER BY dst) AS nbrs,"
        " count(*) AS deg FROM sym GROUP BY src)",
        "w0 AS MATERIALIZED (SELECT src AS walk_id, src AS cur FROM adj)",
    ]
    for t in range(1, num_steps + 1):
        h = (
            f"md5('w:{seed}:' || w.walk_id::VARCHAR || ':{t}:' || w.cur::VARCHAR)"
        )
        idx = f"(('0x' || substr({h}, 1, 6))::BIGINT % a.deg)"
        ctes.append(
            f"w{t} AS MATERIALIZED (SELECT w.walk_id,"
            f" a.nbrs[CAST({idx} AS INT) + 1] AS cur"
            f" FROM w{t - 1} w JOIN adj a ON a.src = w.cur)"
        )
    unions = " UNION ALL ".join(
        f"SELECT walk_id, CAST({t} AS BIGINT) AS step, cur AS vid FROM w{t}"
        for t in range(num_steps + 1)
    )
    return ctes, unions


def _walks_sql(num_steps: int = 4, seed: int = 42) -> str:
    ctes, unions = _walks_ctes(num_steps, seed)
    return f"WITH {E}, {', '.join(ctes)} SELECT walk_id, step, vid FROM ({unions})"


def _biased_walks_sql(
    num_steps: int = 4, p: float = 2.0, q: float = 0.5, seed: int = 42
) -> str:
    """operators/walks.py::biased_walks replayed hop-for-hop: integer
    node2vec weights (round(1e4/p), 1e4, round(1e4/q)), thr = 12-hex md5
    mod total weight, pick = first sorted neighbor whose cumulative
    weight exceeds thr (window cumsum + QUALIFY row_number = 1)."""
    w_ret, w_in, w_out = round(10_000 / p), 10_000, round(10_000 / q)
    ctes = [
        "adj AS MATERIALIZED (SELECT src, list(dst ORDER BY dst) AS nbrs,"
        " count(*) AS deg FROM sym GROUP BY src)",
    ]
    h1 = (
        f"md5('b:{seed}:' || a.src::VARCHAR || ':1:' || a.src::VARCHAR)"
    )
    i1 = f"(('0x' || substr({h1}, 1, 12))::BIGINT % a.deg)"
    ctes.append(
        "w1 AS MATERIALIZED (SELECT a.src AS walk_id, a.src AS prev,"
        f" a.nbrs[CAST({i1} AS INT) + 1] AS cur FROM adj a)"
    )
    for t in range(2, num_steps + 1):
        ctes.append(
            f"c{t} AS (SELECT walk_id, prev, cur, unnest(nbrs) AS x,"
            f" generate_subscripts(nbrs, 1) AS i, pnbrs FROM ("
            f"SELECT w.walk_id, w.prev, w.cur, a.nbrs, ap.nbrs AS pnbrs"
            f" FROM w{t - 1} w JOIN adj a ON a.src = w.cur"
            f" JOIN adj ap ON ap.src = w.prev))"
        )
        ctes.append(
            f"d{t} AS (SELECT walk_id, cur, x, i,"
            f" CASE WHEN x = prev THEN {w_ret}"
            f" WHEN list_contains(pnbrs, x) THEN {w_in}"
            f" ELSE {w_out} END AS wt FROM c{t})"
        )
        ht = f"md5('b:{seed}:' || walk_id::VARCHAR || ':{t}:' || cur::VARCHAR)"
        ctes.append(
            f"w{t} AS MATERIALIZED (SELECT walk_id, cur AS prev, x AS cur"
            f" FROM (SELECT *,"
            f" sum(wt) OVER (PARTITION BY walk_id ORDER BY i) AS cum,"
            f" sum(wt) OVER (PARTITION BY walk_id) AS tot,"
            f" ('0x' || substr({ht}, 1, 12))::BIGINT AS h FROM d{t})"
            f" WHERE cum > h % tot"
            f" QUALIFY row_number() OVER (PARTITION BY walk_id ORDER BY i) = 1)"
        )
    unions = [
        "SELECT walk_id, CAST(0 AS BIGINT) AS step, walk_id AS vid FROM w1"
    ] + [
        f"SELECT walk_id, CAST({t} AS BIGINT) AS step, cur AS vid FROM w{t}"
        for t in range(1, num_steps + 1)
    ]
    u = " UNION ALL ".join(unions)
    return f"WITH {E}, {', '.join(ctes)} SELECT walk_id, step, vid FROM ({u})"


def _mc_pagerank_sql(
    c: float = 0.85, reps: int = 2, max_steps: int = 6, seed: int = 42
) -> str:
    """operators/walks.py::mc_pagerank replayed: per-step md5 coin
    ('mcc' tag, 6 hex mod 1e6 < round(c*1e6)) gates survival, uniform
    md5 hop ('mch'), visits = union of live-walk positions per step,
    rank_est = visits * (1-c) / n_walks — the (1-c) literal is the
    python-computed double repr so both engines multiply the SAME
    double."""
    cint = round(c * 1_000_000)
    rep_list = ", ".join(str(k) for k in range(reps))
    ctes = [
        "adj AS MATERIALIZED (SELECT src, list(dst ORDER BY dst) AS nbrs,"
        " count(*) AS deg FROM sym GROUP BY src)",
        f"m0 AS MATERIALIZED (SELECT a.src AS walk_id, r.rep, a.src AS cur"
        f" FROM adj a CROSS JOIN (SELECT unnest([{rep_list}]) AS rep) r)",
    ]
    for t in range(1, max_steps + 1):
        key = (
            f"'{seed}:' || w.walk_id::VARCHAR || ':' || w.rep::VARCHAR"
            f" || ':{t}:' || w.cur::VARCHAR"
        )
        coin = f"('0x' || substr(md5('mcc:' || {key}), 1, 6))::BIGINT % 1000000"
        hop = f"(('0x' || substr(md5('mch:' || {key}), 1, 6))::BIGINT % a.deg)"
        ctes.append(
            f"m{t} AS MATERIALIZED (SELECT w.walk_id, w.rep,"
            f" a.nbrs[CAST({hop} AS INT) + 1] AS cur"
            f" FROM m{t - 1} w JOIN adj a ON a.src = w.cur"
            f" WHERE {coin} < {cint})"
        )
    allv = " UNION ALL ".join(
        f"SELECT cur FROM m{t}" for t in range(max_steps + 1)
    )
    return (
        f"WITH {E}, {', '.join(ctes)} "
        f"SELECT cur AS vid, count(*)::BIGINT AS visits,"
        f" round((count(*) * CAST({1.0 - c!r} AS DOUBLE))"
        f" / (SELECT count(*) FROM m0), 6) AS rank_est"
        f" FROM ({allv}) GROUP BY cur"
    )


def _walk_cooc_sql(num_steps: int = 4, window: int = 2, seed: int = 42) -> str:
    """walk_cooccurrence replay: the same trajectory unroll, then the
    windowed self-join on walk_id with the canonical (least, greatest)
    pair grouping — byte-for-byte the Spark plan's semantics."""
    ctes, unions = _walks_ctes(num_steps, seed)
    ctes.append(f"traj AS MATERIALIZED (SELECT * FROM ({unions}))")
    return (
        f"WITH {E}, {', '.join(ctes)} "
        "SELECT least(x.vid, y.vid) AS a, greatest(x.vid, y.vid) AS b,"
        " count(*)::BIGINT AS cnt"
        " FROM traj x JOIN traj y ON x.walk_id = y.walk_id"
        f" AND y.step > x.step AND y.step - x.step <= {window}"
        " AND x.vid <> y.vid"
        " GROUP BY 1, 2"
    )


def _anf_sql(max_h: int = 6, seed: str = "anf") -> str:
    """HyperANF replay — mirrors operators/anf.py exactly: m=16 md5-seeded
    registers as 16 columns, per-hop elementwise max over self ∪ neighbors,
    estimate = alpha·m²/Σ2^-r with the linear-counting branch
    (raw ≤ 2.5m AND zero registers exist → m·ln(m/V)). The register sums
    Σ2^-r are EXACT in doubles (≤16 powers of two spanning <53 bits), so
    each per-vertex estimate is bit-identical across engines; the global
    sum is rounded to 6dp on both sides."""
    regs = [f"r{k}" for k in range(16)]
    md5v = f"md5('{seed}:' || vid::VARCHAR)"
    idx = f"('0x' || substr({md5v}, 1, 1))::BIGINT"
    fld = f"('0x' || substr({md5v}, 2, 12))::BIGINT"
    rho = f"CASE WHEN {fld} = 0 THEN 49 ELSE 49 - length(bin({fld})) END"
    init = ", ".join(
        f"CASE WHEN {idx} = {k} THEN {rho} ELSE 0 END AS r{k}" for k in range(16)
    )
    ctes = [f"s0 AS MATERIALIZED (SELECT vid, {init} FROM deg)"]
    cols = ", ".join(regs)
    for t in range(1, max_h + 1):
        p = t - 1
        maxes = ", ".join(f"max(r{k}) AS r{k}" for k in range(16))
        ctes.append(
            f"s{t} AS MATERIALIZED (SELECT vid, {maxes} FROM ("
            f"SELECT vid, {cols} FROM s{p}"
            f" UNION ALL"
            f" SELECT e.dst AS vid, {cols} FROM sym e JOIN s{p} s ON s.vid = e.src"
            f") GROUP BY vid)"
        )
    z = " + ".join(f"power(2.0, -r{k})" for k in range(16))
    v = " + ".join(f"CASE WHEN r{k} = 0 THEN 1 ELSE 0 END" for k in range(16))
    raw = f"(0.673*16*16) / ({z})"
    est = (
        f"CASE WHEN {raw} <= 40.0 AND ({v}) > 0"
        f" THEN 16.0 * ln(16.0 / ({v})) ELSE {raw} END"
    )
    rows = " UNION ALL ".join(
        f"SELECT CAST({t} AS BIGINT) AS h, round(sum({est}), 6) AS nf FROM s{t}"
        for t in range(max_h + 1)
    )
    return f"WITH {E}, {', '.join(ctes)} SELECT h, nf FROM ({rows})"


def _attack_sql(fractions=(0.0, 0.05, 0.10)) -> str:
    """Per-fraction quantile threshold + kept-subgraph recursive-CTE CC +
    giant readout (mirrors operators/robustness.py; threshold literals
    are repr(1-f) so both engines do identical IEEE ceil arithmetic)."""
    blocks, outs = [], []
    for i, f in enumerate(fractions):
        blocks.append(
            f"""
            thr{i} AS (SELECT min(degree) AS d FROM (
                SELECT degree, sum(c) OVER (ORDER BY degree) AS cum
                FROM (SELECT degree, count(*) AS c FROM deg GROUP BY 1)
              ), nv WHERE cum >= ceil({(1.0 - f)!r} * nv.n)),
            kept{i} AS (SELECT vid FROM deg, thr{i}
                        WHERE degree <= thr{i}.d),
            ks{i} AS (SELECT s.src, s.dst FROM sym s
                      JOIN kept{i} a ON a.vid = s.src
                      JOIN kept{i} b ON b.vid = s.dst),
            r{i}(vid, x) AS (
              SELECT vid, vid FROM kept{i}
              UNION
              SELECT s.dst, r{i}.x FROM ks{i} s
              JOIN r{i} ON r{i}.vid = s.src),
            c{i} AS (SELECT vid, min(x) AS comp FROM r{i} GROUP BY vid),
            g{i} AS (SELECT max(s) AS g FROM (
              SELECT comp, count(*) AS s FROM c{i} GROUP BY comp)),
            o{i} AS (SELECT {float(f)!r} AS frac,
                     thr{i}.d AS d_threshold,
                     nv.n - (SELECT count(*) FROM kept{i}) AS n_removed,
                     (SELECT count(*) FROM kept{i})::BIGINT AS n_remaining,
                     g{i}.g::BIGINT AS giant_size,
                     round(g{i}.g
                           / (1.0*(SELECT count(*) FROM kept{i})), 6)
                       AS giant_frac
                     FROM thr{i}, nv, g{i})"""
        )
        outs.append(f"SELECT * FROM o{i}")
    return (
        "WITH RECURSIVE "
        + E
        + ", nv AS (SELECT count(*) AS n FROM deg),"
        + ",".join(blocks)
        + " "
        + " UNION ALL ".join(outs)
    )


def _fail_sql(fractions=(0.0, 0.10, 0.30), seed: int = 7) -> str:
    """Random-failure twin of _attack_sql: kept = md5 coin >= f (the
    dataset_split uniform convention), then the same closure readout."""
    blocks, outs = [], []
    for i, f in enumerate(fractions):
        blocks.append(
            f"""
            kept{i} AS (SELECT vid FROM deg
                        WHERE ('0x' || substr(md5('split:{seed}:'
                                || vid::VARCHAR), 1, 12))::BIGINT
                              / 281474976710656.0 >= {float(f)!r}),
            ks{i} AS (SELECT s.src, s.dst FROM sym s
                      JOIN kept{i} a ON a.vid = s.src
                      JOIN kept{i} b ON b.vid = s.dst),
            r{i}(vid, x) AS (
              SELECT vid, vid FROM kept{i}
              UNION
              SELECT s.dst, r{i}.x FROM ks{i} s
              JOIN r{i} ON r{i}.vid = s.src),
            c{i} AS (SELECT vid, min(x) AS comp FROM r{i} GROUP BY vid),
            g{i} AS (SELECT max(s) AS g FROM (
              SELECT comp, count(*) AS s FROM c{i} GROUP BY comp)),
            o{i} AS (SELECT {float(f)!r} AS frac,
                     nv.n - (SELECT count(*) FROM kept{i}) AS n_removed,
                     (SELECT count(*) FROM kept{i})::BIGINT AS n_remaining,
                     g{i}.g::BIGINT AS giant_size,
                     round(g{i}.g
                           / (1.0*(SELECT count(*) FROM kept{i})), 6)
                       AS giant_frac
                     FROM nv, g{i})"""
        )
        outs.append(f"SELECT * FROM o{i}")
    return (
        "WITH RECURSIVE "
        + E
        + ", nv AS (SELECT count(*) AS n FROM deg),"
        + ",".join(blocks)
        + " "
        + " UNION ALL ".join(outs)
    )


def oracle_sql() -> dict[str, str]:
    tc_sql = f"WITH {E}, {_TRI} SELECT count(*) AS tc FROM tri"
    return {
        "attack_robustness": _attack_sql(),
        "random_failure": _fail_sql(),
        # CCDF: descending cumulative over the degree histogram
        "degree_ccdf": f"""
            WITH {E},
            counts AS (SELECT degree, count(*) AS c FROM deg GROUP BY 1),
            n AS (SELECT count(*) AS n FROM deg)
            SELECT degree,
                   sum(c) OVER (ORDER BY degree DESC)::BIGINT AS n_ge,
                   round(sum(c) OVER (ORDER BY degree DESC)
                         / (1.0*(SELECT n FROM n)), 6) AS ccdf
            FROM counts
        """,
        # user entropy: H = ln n - (sum c ln c)/n; ln() not log()
        "user_entropy": """
            WITH tf AS (
              SELECT user_id, event_type, count(*) AS c FROM events
              WHERE user_id IS NOT NULL GROUP BY 1, 2
            )
            SELECT user_id, sum(c)::BIGINT AS n_events,
                   count(*)::BIGINT AS n_types,
                   round(ln(sum(c)) - sum(c*ln(c))/sum(c), 6) AS entropy
            FROM tf GROUP BY user_id
        """,
        # intra-host share over the DIRECTED page links
        "intra_host_share": f"""
            WITH {E}, {DOC_DIRECTED_SQL.strip()},
            g AS (SELECT doc_id AS vid, source AS grp FROM documents),
            j AS (SELECT gs.grp AS a, gd.grp AS b
                  FROM dlinks e
                  JOIN g gs ON gs.vid = e.src
                  JOIN g gd ON gd.vid = e.dst)
            SELECT sum(CASE WHEN a = b THEN 1 ELSE 0 END)::BIGINT
                     AS n_intra,
                   sum(CASE WHEN a <> b THEN 1 ELSE 0 END)::BIGINT
                     AS n_inter,
                   round(sum(CASE WHEN a = b THEN 1 ELSE 0 END)
                         / (1.0*count(*)), 6) AS intra_share
            FROM j
        """,
        # knn(k): avg over degree-k vertices of mean neighbor degree
        "neighbor_degree_curve": f"""
            WITH {E},
            pv AS (
              SELECT s.src AS vid, sum(d.degree)/(1.0*count(*)) AS and_v
              FROM sym s JOIN deg d ON d.vid = s.dst
              GROUP BY 1
            )
            SELECT g.degree, count(*)::BIGINT AS n_vertices,
                   round(avg(pv.and_v), 6) AS knn
            FROM pv JOIN deg g ON g.vid = pv.vid
            GROUP BY 1
        """,
        # Gini: sort-free histogram identity, integer arithmetic until
        # the final division
        "degree_gini": f"""
            WITH {E},
            counts AS (SELECT degree AS v, count(*) AS c FROM deg
                       GROUP BY 1),
            cb AS (SELECT v, c,
                          coalesce(sum(c) OVER (ORDER BY v
                            ROWS BETWEEN UNBOUNDED PRECEDING
                            AND 1 PRECEDING), 0) AS cb
                   FROM counts),
            a AS (SELECT sum(c) AS n, sum(v*c) AS sx,
                         sum(v*(c*cb + c*(c+1)/2)) AS s1 FROM cb)
            SELECT n::BIGINT AS n, sx::DOUBLE AS total,
                   round(2.0*s1/(n*sx) - (n+1.0)/n, 6) AS gini
            FROM a
        """,
        "host_token_gini": """
            WITH ph AS (
              SELECT coalesce(source, '') AS host,
                     sum(len(list_filter(string_split(text, ' '),
                                         t -> t <> ''))) AS v
              FROM documents WHERE text IS NOT NULL GROUP BY 1
            ),
            counts AS (SELECT v, count(*) AS c FROM ph GROUP BY 1),
            cb AS (SELECT v, c,
                          coalesce(sum(c) OVER (ORDER BY v
                            ROWS BETWEEN UNBOUNDED PRECEDING
                            AND 1 PRECEDING), 0) AS cb
                   FROM counts),
            a AS (SELECT sum(c) AS n, sum(v*c) AS sx,
                         sum(v*(c*cb + c*(c+1)/2)) AS s1 FROM cb)
            SELECT n::BIGINT AS n, sx::DOUBLE AS total,
                   round(2.0*s1/(n*sx) - (n+1.0)/n, 6) AS gini
            FROM a
        """,
        # cohort matrix: truncated-week day-diff div 7 (exact ints)
        "cohort_retention": """
            WITH ev AS (SELECT user_id, date_trunc('week', ts) AS p
                        FROM events WHERE user_id IS NOT NULL),
            f AS (SELECT user_id, min(p) AS cohort FROM ev GROUP BY 1),
            a AS (SELECT DISTINCT user_id, p FROM ev),
            j AS (SELECT a.user_id, f.cohort,
                         date_diff('day', f.cohort::DATE, a.p::DATE) // 7
                           AS period_offset
                  FROM a JOIN f USING (user_id)),
            m AS (SELECT cohort, period_offset,
                         count(DISTINCT user_id) AS n_users
                  FROM j GROUP BY 1, 2),
            s AS (SELECT cohort, n_users AS c0 FROM m WHERE period_offset = 0)
            SELECT m.cohort, m.period_offset, m.n_users::BIGINT AS n_users,
                   round(m.n_users / (1.0*s.c0), 6) AS retention
            FROM m JOIN s USING (cohort)
        """,
        # curation manifest: stats pass (list_sum/list_transform mwl twin)
        # -> per-(lang, md5) min-doc_id reps -> gate -> per-lang joins
        "curation_manifest": """
            WITH st AS MATERIALIZED (
              SELECT doc_id, coalesce(lang, '') AS lang, md5(text) AS h,
                     len(ftoks) AS n_tokens,
                     round(coalesce(list_sum(list_transform(ftoks,
                             x -> length(x))), 0)::DOUBLE
                           / greatest(len(ftoks), 1), 6) AS mwl
              FROM (SELECT doc_id, lang, text,
                           list_filter(string_split(text, ' '),
                                       t -> t <> '') AS ftoks
                    FROM documents WHERE text IS NOT NULL)
            ),
            nd AS (SELECT lang, count(*) AS n_docs FROM st GROUP BY 1),
            reps AS (SELECT lang, h, min(doc_id) AS doc_id FROM st
                     GROUP BY 1, 2),
            nu AS (SELECT lang, count(*) AS n_unique FROM reps GROUP BY 1),
            kept AS (
              SELECT r.lang, count(*) AS n_kept,
                     sum(s.n_tokens) AS kept_tokens
              FROM reps r JOIN st s ON s.doc_id = r.doc_id
              WHERE s.n_tokens >= 30 AND s.n_tokens <= 100000
                AND s.mwl >= 2.0 AND s.mwl <= 12.0
              GROUP BY 1
            )
            SELECT nd.lang, nd.n_docs::BIGINT AS n_docs,
                   coalesce(nu.n_unique, 0)::BIGINT AS n_unique,
                   coalesce(kept.n_kept, 0)::BIGINT AS n_kept,
                   coalesce(kept.kept_tokens, 0)::BIGINT AS kept_tokens
            FROM nd LEFT JOIN nu ON nu.lang = nd.lang
            LEFT JOIN kept ON kept.lang = nd.lang
        """,
        # joint degree histogram: bit_length-1 buckets (exact integers)
        "degree_pair_histogram": f"""
            WITH {E}
            SELECT length(bin(du.degree)) - 1 AS bucket_src,
                   length(bin(dv.degree)) - 1 AS bucket_dst,
                   count(*)::BIGINT AS n_edges
            FROM sym s
            JOIN deg du ON du.vid = s.src
            JOIN deg dv ON dv.vid = s.dst
            GROUP BY 1, 2
        """,
        # anisotropy closed form: per-dim sums of unit vectors
        "embedding_anisotropy": """
            WITH e2 AS (
              SELECT v, nrm FROM (
                SELECT embedding::DOUBLE[] AS v,
                       sqrt(list_sum(list_transform(embedding::DOUBLE[],
                                                    x -> x*x))) AS nrm
                FROM embeddings WHERE embedding IS NOT NULL
              ) WHERE nrm > 0
            ),
            ex AS (SELECT unnest(v) AS val,
                          unnest(range(1, len(v) + 1)) AS dim, nrm
                   FROM e2),
            pd AS (SELECT dim, sum(val/nrm) AS s FROM ex GROUP BY 1),
            s2 AS (SELECT sum(s*s) AS s2 FROM pd),
            n AS (SELECT count(*) AS n FROM e2)
            SELECT n::BIGINT AS n,
                   round((s2 - n)/(n*(n - 1.0)), 6) AS mean_cosine
            FROM s2, n
        """,
        # CPM k=3: triangle-edge keys src*1e7+dst, pairwise-connected per
        # triangle, recursive-CTE reachability closure, community = min
        # reachable key (mirrors operators/percolation.py; closure is
        # per-component quadratic — fine at sf0.01's 38-triangle graph)
        "cpm_communities": f"""
            WITH RECURSIVE {E}, {_TRI},
            tek AS MATERIALIZED (
              SELECT i*10000000 + j AS e1, i*10000000 + k AS e2,
                     j*10000000 + k AS e3 FROM tri
            ),
            ep AS MATERIALIZED (
              SELECT DISTINCT a, b FROM (
                SELECT e1 AS a, e2 AS b FROM tek
                UNION ALL SELECT e1, e3 FROM tek
                UNION ALL SELECT e2, e3 FROM tek)
            ),
            sp AS MATERIALIZED (
              SELECT a AS src, b AS dst FROM ep
              UNION ALL SELECT b, a FROM ep
            ),
            ek AS MATERIALIZED (
              SELECT DISTINCT e FROM (
                SELECT e1 AS e FROM tek
                UNION ALL SELECT e2 FROM tek
                UNION ALL SELECT e3 FROM tek)
            ),
            r(v, x) AS (
              SELECT e, e FROM ek
              UNION
              SELECT s.dst, r.x FROM sp s JOIN r ON r.v = s.src
            ),
            comp AS (SELECT v, min(x) AS community FROM r GROUP BY v)
            SELECT DISTINCT vid, community FROM (
              SELECT v // 10000000 AS vid, community FROM comp
              UNION ALL
              SELECT v % 10000000, community FROM comp)
        """,
        # Flesch: list_transform/list_sum replay the Spark HOF fold;
        # regexp classes are ASCII on both engines
        "readability": """
            WITH d AS (
              SELECT doc_id,
                     list_filter(string_split(text, ' '), t -> t <> '')
                       AS toks,
                     text
              FROM documents WHERE text IS NOT NULL
            ),
            s AS (
              SELECT doc_id, len(toks) AS n_words,
                     greatest(1, len(regexp_extract_all(text, '[.!?]+')))
                       AS n_sentences,
                     coalesce(list_sum(list_transform(toks, w ->
                       greatest(1, len(regexp_extract_all(lower(w),
                                                          '[aeiouy]+'))))),
                              0) AS n_syllables
              FROM d
            )
            SELECT doc_id, n_words::BIGINT AS n_words,
                   n_sentences::BIGINT AS n_sentences,
                   n_syllables::BIGINT AS n_syllables,
                   round(206.835 - 1.015*(n_words::DOUBLE / n_sentences)
                         - 84.6*(n_syllables::DOUBLE / n_words), 6)
                     AS flesch
            FROM s WHERE n_words > 0
        """,
        # heavy hitters: 1-hour tumbling windows == date_trunc buckets
        "heavy_hitter_users": """
            WITH c AS (
              SELECT date_trunc('hour', ts) AS window_start,
                     user_id AS key, count(*) AS n
              FROM events WHERE user_id IS NOT NULL GROUP BY 1, 2
            )
            SELECT window_start, key, n::BIGINT AS n, rank FROM (
              SELECT *, row_number() OVER (
                PARTITION BY window_start ORDER BY n DESC, key) AS rank
              FROM c
            ) WHERE rank <= 3
        """,
        # RFM: quartile thresholds via the cum-rank >= ceil(p*n) rule on
        # each per-user metric's VALUE histogram (monetary rounded 6dp
        # before thresholding), score = 1 + strict-greater comparisons
        "rfm_segments": """
            WITH pu AS MATERIALIZED (
              SELECT user_id, max(ts) AS rec, count(*) AS freq,
                     round(coalesce(sum(value), 0), 6) AS mon
              FROM events WHERE user_id IS NOT NULL GROUP BY 1
            ),
            n AS (SELECT count(*) AS n FROM pu),
            qr AS (
              SELECT min(CASE WHEN cum >= ceil(0.25*n) THEN v END) AS q1,
                     min(CASE WHEN cum >= ceil(0.50*n) THEN v END) AS q2,
                     min(CASE WHEN cum >= ceil(0.75*n) THEN v END) AS q3
              FROM (SELECT v, sum(c) OVER (ORDER BY v) AS cum
                    FROM (SELECT rec AS v, count(*) AS c FROM pu
                          GROUP BY 1)), n
            ),
            qf AS (
              SELECT min(CASE WHEN cum >= ceil(0.25*n) THEN v END) AS q1,
                     min(CASE WHEN cum >= ceil(0.50*n) THEN v END) AS q2,
                     min(CASE WHEN cum >= ceil(0.75*n) THEN v END) AS q3
              FROM (SELECT v, sum(c) OVER (ORDER BY v) AS cum
                    FROM (SELECT freq AS v, count(*) AS c FROM pu
                          GROUP BY 1)), n
            ),
            qm AS (
              SELECT min(CASE WHEN cum >= ceil(0.25*n) THEN v END) AS q1,
                     min(CASE WHEN cum >= ceil(0.50*n) THEN v END) AS q2,
                     min(CASE WHEN cum >= ceil(0.75*n) THEN v END) AS q3
              FROM (SELECT v, sum(c) OVER (ORDER BY v) AS cum
                    FROM (SELECT mon AS v, count(*) AS c FROM pu
                          GROUP BY 1)), n
            ),
            scored AS (
              SELECT 1 + (rec > qr.q1)::INT + (rec > qr.q2)::INT
                       + (rec > qr.q3)::INT AS r_score,
                     1 + (freq > qf.q1)::INT + (freq > qf.q2)::INT
                       + (freq > qf.q3)::INT AS f_score,
                     1 + (mon > qm.q1)::INT + (mon > qm.q2)::INT
                       + (mon > qm.q3)::INT AS m_score,
                     mon
              FROM pu, qr, qf, qm
            )
            SELECT r_score, f_score, m_score, count(*)::BIGINT AS n_users,
                   round(avg(mon), 6) AS avg_monetary
            FROM scored GROUP BY 1, 2, 3
        """,
        # per-dim stats: unnest-with-index (1-based, matching posexplode+1)
        "embedding_dim_stats": """
            SELECT i AS dim, count(*)::BIGINT AS n,
                   round(avg(val), 6) AS mean,
                   round(stddev_pop(val), 6) AS std,
                   round(min(val), 6) AS vmin,
                   round(max(val), 6) AS vmax,
                   round(stddev_pop(val), 6) < 0.001 AS dead
            FROM (SELECT unnest(embedding::DOUBLE[]) AS val,
                         unnest(range(1, len(embedding) + 1)) AS i
                  FROM embeddings WHERE embedding IS NOT NULL)
            GROUP BY i
        """,
        # MMR: greedy trajectory replayed round-by-round; literals are
        # repr(lam)/repr(1-lam) so both engines rank the identical IEEE
        # arithmetic over 6dp-rounded rel/sim inputs
        "mmr_topk": f"""
            WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v
                       FROM embeddings),
            q AS (SELECT vec_id AS query_id, v AS qv FROM e
                  WHERE vec_id < 3),
            cand AS MATERIALIZED (
              SELECT query_id, vec_id, rel FROM (
                SELECT q.query_id, e.vec_id,
                       round(list_cosine_similarity(q.qv, e.v), 6) AS rel,
                       row_number() OVER (PARTITION BY q.query_id
                         ORDER BY round(list_cosine_similarity(q.qv, e.v), 6)
                                  DESC, e.vec_id) AS rn
                FROM e JOIN q ON e.vec_id <> q.query_id
              ) WHERE rn <= 20
            ),
            pairs AS MATERIALIZED (
              SELECT a.query_id, a.vec_id AS a, b.vec_id AS b,
                     round(list_cosine_similarity(ea.v, eb.v), 6) AS sim
              FROM cand a
              JOIN cand b ON a.query_id = b.query_id
                         AND a.vec_id <> b.vec_id
              JOIN e ea ON ea.vec_id = a.vec_id
              JOIN e eb ON eb.vec_id = b.vec_id
            ),
            sel1 AS MATERIALIZED (
              SELECT query_id, vec_id, rel AS raw FROM (
                SELECT query_id, vec_id, rel, row_number() OVER (
                  PARTITION BY query_id ORDER BY rel DESC, vec_id) AS rn
                FROM cand) WHERE rn = 1
            ),
            ms2 AS (
              SELECT p.query_id, p.a AS vec_id, max(p.sim) AS msim
              FROM pairs p JOIN sel1 s
                ON s.query_id = p.query_id AND s.vec_id = p.b
              GROUP BY 1, 2
            ),
            sc2 AS (
              SELECT c.query_id, c.vec_id,
                     {0.7!r}*c.rel - {1.0 - 0.7!r}*m.msim AS raw
              FROM cand c JOIN ms2 m USING (query_id, vec_id)
              LEFT JOIN sel1 s ON s.query_id = c.query_id
                              AND s.vec_id = c.vec_id
              WHERE s.vec_id IS NULL
            ),
            sel2 AS MATERIALIZED (
              SELECT query_id, vec_id, raw FROM (
                SELECT query_id, vec_id, raw, row_number() OVER (
                  PARTITION BY query_id ORDER BY raw DESC, vec_id) AS rn
                FROM sc2) WHERE rn = 1
            ),
            sel12 AS (
              SELECT query_id, vec_id FROM sel1
              UNION ALL SELECT query_id, vec_id FROM sel2
            ),
            ms3 AS (
              SELECT p.query_id, p.a AS vec_id, max(p.sim) AS msim
              FROM pairs p JOIN sel12 s
                ON s.query_id = p.query_id AND s.vec_id = p.b
              GROUP BY 1, 2
            ),
            sc3 AS (
              SELECT c.query_id, c.vec_id,
                     {0.7!r}*c.rel - {1.0 - 0.7!r}*m.msim AS raw
              FROM cand c JOIN ms3 m USING (query_id, vec_id)
              LEFT JOIN sel12 s ON s.query_id = c.query_id
                               AND s.vec_id = c.vec_id
              WHERE s.vec_id IS NULL
            ),
            sel3 AS (
              SELECT query_id, vec_id, raw FROM (
                SELECT query_id, vec_id, raw, row_number() OVER (
                  PARTITION BY query_id ORDER BY raw DESC, vec_id) AS rn
                FROM sc3) WHERE rn = 1
            )
            SELECT query_id, vec_id, 1 AS sel_round,
                   round(raw, 6) AS score FROM sel1
            UNION ALL SELECT query_id, vec_id, 2, round(raw, 6) FROM sel2
            UNION ALL SELECT query_id, vec_id, 3, round(raw, 6) FROM sel3
        """,
        # configuration-model null: E[T] = (sum d(d-1) / 2m)^3 / 6
        "triangle_null_ratio": f"""
            WITH {E}, {_TRI},
            t AS (SELECT count(*) AS tc FROM tri),
            m AS (SELECT count(*) AS m FROM und),
            s AS (SELECT sum(degree*(degree-1.0)) AS s FROM deg)
            SELECT tc::BIGINT AS tc_actual,
                   round(pow(s/(2.0*m), 3)/6.0, 6) AS tc_null,
                   round(tc / (pow(s/(2.0*m), 3)/6.0), 6) AS ratio
            FROM t, m, s
        """,
        "edges_canonical": f"WITH {E} SELECT src, dst FROM und",
        "degree_histogram": f"""
            WITH {E}
            SELECT degree, count(*) AS n_vertices FROM deg GROUP BY degree
        """,
        "wedge_count": f"""
            WITH {E}
            SELECT CAST(sum(degree*(degree-1))/2 AS BIGINT) AS wedges FROM deg
        """,
        "fourcycle_count": f"""
            WITH {E},
            w AS (
              SELECT s1.dst AS u, s2.dst AS v, count(*) AS c
              FROM sym s1 JOIN sym s2
                ON s1.src = s2.src AND s1.dst < s2.dst
              GROUP BY u, v
            )
            SELECT CAST(coalesce(sum(c*(c-1)/2)/2, 0) AS BIGINT) AS c4 FROM w
        """,
        "fourclique_count": f"""
            WITH {E}
            SELECT count(*) AS k4
            FROM und e1
            JOIN und e2 ON e2.src = e1.src AND e2.dst > e1.dst
            JOIN und e3 ON e3.src = e1.dst AND e3.dst = e2.dst
            JOIN und e4 ON e4.src = e2.dst
            JOIN und e5 ON e5.src = e1.dst AND e5.dst = e4.dst
            JOIN und e6 ON e6.src = e1.src AND e6.dst = e4.dst
        """,
        # Bloom replay: bit i = md5("bloom:7:{i}:{bigram}") first 12 hex
        # mod 8192 — verbatim the Spark rule (sketches._bloom_bits)
        "bloom_screen": """
            WITH t AS (
              SELECT lang,
                     list_filter(string_split(text, ' '), x -> x <> '')
                       AS toks
              FROM documents WHERE text IS NOT NULL
            ),
            bgr AS (
              SELECT lang, toks[i] || ' ' || toks[i+1] AS token
              FROM t, unnest(generate_series(1, len(toks) - 1)) AS u(i)
            ),
            enb AS (SELECT DISTINCT token FROM bgr WHERE lang = 'en'),
            bits AS (
              SELECT DISTINCT
                     ('0x' || substr(md5('bloom:7:' || i::VARCHAR || ':'
                                         || token), 1, 12))::BIGINT
                       % 8192 AS bit
              FROM enb, unnest([0, 1, 2, 3]) AS h(i)
            ),
            probes AS (SELECT DISTINCT token FROM bgr WHERE lang <> 'en'),
            pb AS (
              SELECT token,
                     ('0x' || substr(md5('bloom:7:' || i::VARCHAR || ':'
                                         || token), 1, 12))::BIGINT
                       % 8192 AS bit
              FROM probes, unnest([0, 1, 2, 3]) AS h(i)
            ),
            hits AS (
              SELECT token,
                     count(*) = sum(CASE WHEN b.bit IS NOT NULL
                                         THEN 1 ELSE 0 END) AS hit
              FROM pb LEFT JOIN bits b ON pb.bit = b.bit
              GROUP BY token
            )
            SELECT h.token, h.hit,
                   (h.token IN (SELECT token FROM enb)) AS present
            FROM hits h
        """,
        # DSIR replay: same md5 bucket rule ("dsir:{seed}:{token}") as the
        # Spark side; ln() (DuckDB log() is base-10 — engine lore)
        "dsir_weights": f"WITH {_DSIR_W} SELECT doc_id, n_toks, logw FROM dw",
        "dsir_topk": f"""
            WITH {_DSIR_W}
            SELECT doc_id, n_toks, logw, rank FROM (
              SELECT doc_id, n_toks, logw,
                     row_number() OVER (ORDER BY logw DESC, doc_id ASC)
                       AS rank
              FROM dw
            ) WHERE rank <= 50
        """,
        "triangle_count_join": tc_sql,
        "triangle_count_join_pruned": tc_sql,
        "triangle_count_adj": tc_sql,
        "triangle_count_adj2": tc_sql,
        "triangle_count_salted": tc_sql,
        "triangles_per_vertex": f"""
            WITH {E}, {_TRI}
            SELECT vid, count(*) AS tc FROM (
              SELECT i AS vid FROM tri
              UNION ALL SELECT j FROM tri
              UNION ALL SELECT k FROM tri
            ) GROUP BY vid
        """,
        "local_clustering": f"""
            WITH {E}, {_TRI},
            pv AS (
              SELECT vid, count(*) AS tc FROM (
                SELECT i AS vid FROM tri
                UNION ALL SELECT j FROM tri
                UNION ALL SELECT k FROM tri
              ) GROUP BY vid
            )
            SELECT d.vid, coalesce(pv.tc, 0) AS tc, d.degree,
                   round(coalesce(pv.tc, 0) / (d.degree*(d.degree-1)/2.0), 6) AS lcc
            FROM deg d LEFT JOIN pv ON pv.vid = d.vid
            WHERE d.degree >= 2
        """,
        "global_clustering": f"""
            WITH {E}, {_TRI},
            t AS (SELECT count(*) AS tc FROM tri),
            w AS (SELECT CAST(sum(degree*(degree-1))/2 AS BIGINT) AS w FROM deg)
            SELECT round(3.0*(SELECT tc FROM t)/(SELECT w FROM w), 6) AS gcc
        """,
        "graph_summary": f"""
            WITH {E}
            SELECT count(*) AS n_vertices,
                   CAST(sum(degree)/2 AS BIGINT) AS n_edges,
                   max(degree) AS max_degree,
                   round(avg(degree), 6) AS avg_degree
            FROM deg
        """,
        "core_numbers": _core_numbers_sql(_oracle_rounds(32)),
        "densest_core": _densest_core_sql(_oracle_rounds(32)),
        "mst_forest": _mst_sql(_oracle_rounds(10), jumps=6),
        # single-linkage cross-check: the Spark side clusters via the MST
        # (CC over <=tau forest edges); this oracle clusters the
        # tau-filtered ORIGINAL graph — equality IS the Gower-Ross
        # dendrogram property, checked by the gate
        "single_linkage": f"""
            WITH RECURSIVE {E},
            wf AS (SELECT src, dst FROM und WHERE (src + dst) % 7 + 1 <= 3),
            swf AS (SELECT src, dst FROM wf
                    UNION ALL SELECT dst, src FROM wf),
            r(vid, x) AS (
              SELECT vid, vid FROM deg
              UNION
              SELECT s.dst, r.x FROM swf s JOIN r ON r.vid = s.src
            )
            SELECT vid, min(x) AS cluster FROM r GROUP BY vid
        """,
        "kmeans_assign": _kmeans_sql(k=8, iters=4, final="assign"),
        "kmeans_clusters": _kmeans_sql(k=8, iters=4, final="summary"),
        # rank-based exact percentiles (value at rank ceil(p·n)) over the
        # distinct-value histogram — replays textstats.exact_quantiles
        "length_quantiles": """
            WITH counts AS (SELECT n_chars AS v, count(*) AS cnt
                            FROM documents GROUP BY 1),
            cum AS (SELECT v, sum(cnt) OVER (ORDER BY v) AS cum FROM counts),
            tot AS (SELECT count(*) AS n FROM documents),
            ps AS (SELECT unnest([25, 50, 75, 90, 99]) AS pct)
            SELECT pct, min(v) AS value FROM cum, tot, ps
            WHERE cum >= ceil(pct / 100.0 * n)
            GROUP BY pct
        """,
        "rp_project": _rp_sql(out_dims=16, seed=42),
        "rp_kmeans": _kmeans_sql(
            k=8,
            iters=2,
            final="assign",
            emb_select=(
                "SELECT vec_id AS vid, ["
                + ", ".join(f"p{p}" for p in range(16))
                + f"] AS v FROM ({_rp_sql(out_dims=16, seed=42)})"
            ),
        ),
        # sum(int) is HUGEINT in DuckDB -> ::BIGINT (engine lore); tokens
        # follow token_counts' split-on-space rule, NULL text counts 0
        "mix_weights": """
            WITH agg AS (
              SELECT coalesce(source, '') AS source,
                     count(*)::BIGINT AS n_docs,
                     sum(CASE WHEN text IS NULL THEN 0
                              ELSE len(string_split(text, ' ')) END)::BIGINT
                       AS n_tokens
              FROM documents GROUP BY 1
            ), tot AS (SELECT sum(pow(n_tokens, 0.7)) AS z FROM agg)
            SELECT source, n_docs, n_tokens,
                   round(pow(n_tokens, 0.7) / z, 6) AS weight
            FROM agg, tot
        """,
        "kcore2_edges": _kcore_sql(2, _oracle_rounds(24)),
        "edge_support": f"WITH {E}, {_TRI}, {_SUPPORT} SELECT src, dst, support FROM sup",
        "ktruss3_edges": _ktruss_sql(3, _oracle_rounds(10)),
        "truss_numbers": _truss_numbers_sql(_oracle_rounds(14)),
        "pagerank_converged": _pagerank_converged_sql(),
        "hits_iter2": _hits_sql(iters=2),
        "salsa_iter2": _salsa_sql(iters=2),
        "cocitation": f"""
            WITH {E}, {DOC_DIRECTED_SQL.strip()}
            SELECT l.dst AS a, r.dst AS b, count(*) AS common
            FROM dlinks l JOIN dlinks r ON r.src = l.src AND l.dst < r.dst
            GROUP BY l.dst, r.dst HAVING count(*) >= 2
        """,
        "coupling": f"""
            WITH {E}, {DOC_DIRECTED_SQL.strip()}
            SELECT l.src AS a, r.src AS b, count(*) AS common
            FROM dlinks l JOIN dlinks r ON r.dst = l.dst AND l.src < r.src
            GROUP BY l.src, r.src HAVING count(*) >= 2
        """,
        "related_pages": f"""
            WITH {E}, {DOC_DIRECTED_SQL.strip()},
            pairs AS (
              SELECT l.dst AS a, r.dst AS b, count(*) AS common
              FROM dlinks l JOIN dlinks r ON r.src = l.src AND l.dst < r.dst
              GROUP BY l.dst, r.dst HAVING count(*) >= 2
            ),
            sides AS (
              SELECT a AS vid, b AS related, common FROM pairs
              UNION ALL
              SELECT b AS vid, a AS related, common FROM pairs
            ),
            rk AS (
              SELECT vid, related, common,
                     row_number() OVER (PARTITION BY vid
                                        ORDER BY common DESC, related ASC) AS rnk
              FROM sides
            )
            SELECT vid, related, common, rnk FROM rk WHERE rnk <= 3
        """,
        "host_edges": f"""
            WITH {E}, {DOC_DIRECTED_SQL.strip()},
            hm AS (SELECT doc_id, source FROM documents)
            SELECT x.source AS src_host, y.source AS dst_host,
                   count(*) AS n_links
            FROM dlinks e
            JOIN hm x ON x.doc_id = e.src
            JOIN hm y ON y.doc_id = e.dst
            WHERE x.source <> y.source
            GROUP BY x.source, y.source
        """,
        "host_pagerank_iter2": _host_pr_sql(iters=2),
        # SimRank unroll: s0 = identity; each step sums state over ordered
        # in-neighbor pairs, scales by C/(|I(a)||I(b)|), re-unions the
        # diagonal. Canonical a<b output — the (b,a) mirror is dropped,
        # never float-compared.
        "simrank_hosts": f"""
            WITH {E}, {DOC_DIRECTED_SQL.strip()}, {_HOST_GRAPH},
            ind AS (SELECT dst AS v, count(*) AS ind FROM he GROUP BY dst),
            s0 AS (SELECT vid AS x, vid AS y, 1.0 AS sim FROM hv),
            t1 AS (
              SELECT ea.dst AS a, eb.dst AS b, sum(s.sim) AS t
              FROM he ea JOIN s0 s ON s.x = ea.src
                         JOIN he eb ON s.y = eb.src
              WHERE ea.dst <> eb.dst
              GROUP BY ea.dst, eb.dst
            ),
            s1 AS MATERIALIZED (
              SELECT a AS x, b AS y, 0.8 * t / (ia.ind * ib.ind) AS sim
              FROM t1 JOIN ind ia ON ia.v = t1.a JOIN ind ib ON ib.v = t1.b
              UNION ALL
              SELECT vid, vid, 1.0 FROM hv
            ),
            t2 AS (
              SELECT ea.dst AS a, eb.dst AS b, sum(s.sim) AS t
              FROM he ea JOIN s1 s ON s.x = ea.src
                         JOIN he eb ON s.y = eb.src
              WHERE ea.dst <> eb.dst
              GROUP BY ea.dst, eb.dst
            )
            SELECT a AS host_a, b AS host_b,
                   round(0.8 * t / (ia.ind * ib.ind), 6) AS sim
            FROM t2 JOIN ind ia ON ia.v = t2.a JOIN ind ib ON ib.v = t2.b
            WHERE a < b
        """,
        "trustrank_iter2": _host_trustrank_sql(iters=2),
        "anti_trustrank_iter2": _host_antitrust_sql(iters=2),
        "spam_mass_hosts": _host_spam_mass_sql(iters=2),
        "crawl_frontier": _crawl_frontier_sql(iters=2, k=5),
        "crawl_schedule": _crawl_schedule_sql(iters=2, rate=3),
        "betweenness": _betweenness_sql(max_depth=10, mod=41),
        "harmonic_closeness": _closeness_sql(max_depth=10, mod=41),
        "mis": _mis_sql(rounds=8, seed=42),
        "coloring": _coloring_sql(rounds=24, seed=42),
        # Newman modularity of the lp_iter2 labels: Q = mc/m − ΣD_c²/4m²
        # over the E block's sym/deg; HUGEINT sums cast back to BIGINT
        "lp_modularity": f"""
            WITH {E},
            l1 AS (SELECT s.dst AS vid, min(s.src) AS label
                   FROM sym s GROUP BY s.dst),
            freq2 AS (
              SELECT s.dst AS vid, l.label, count(*) AS n
              FROM sym s JOIN l1 l ON l.vid = s.src GROUP BY s.dst, l.label
            ),
            lbl AS MATERIALIZED (
              SELECT vid, label FROM (
                SELECT vid, label, row_number() OVER (PARTITION BY vid
                  ORDER BY n DESC, label ASC) AS rn
                FROM freq2
              ) WHERE rn = 1
            ),
            mm AS (SELECT count(*) / 2 AS m FROM sym),
            mc AS (SELECT count(*) AS mc FROM sym e
                   JOIN lbl a ON a.vid = e.src JOIN lbl b ON b.vid = e.dst
                   WHERE a.label = b.label AND e.src < e.dst),
            dc AS (SELECT l.label, sum(d.degree) AS dsum
                   FROM deg d JOIN lbl l ON l.vid = d.vid GROUP BY l.label),
            ds AS (SELECT sum(dsum * dsum)::DOUBLE AS dsq,
                          count(*)::BIGINT AS nc FROM dc)
            SELECT round(CASE WHEN (SELECT m FROM mm) > 0 THEN
                     (SELECT mc FROM mc) / (SELECT m FROM mm)
                     - coalesce((SELECT dsq FROM ds), 0)
                       / (4.0 * (SELECT m FROM mm) * (SELECT m FROM mm))
                   ELSE 0.0 END, 6) AS modularity,
                   coalesce((SELECT nc FROM ds), 0)::BIGINT AS n_communities,
                   (SELECT m FROM mm)::BIGINT AS m_edges
        """,
        "triangles_list": f"WITH {E}, {_TRI} SELECT i, j, k FROM tri",
        # capacity-256 concat-and-split packing; md5(doc_id) stream order
        # replays verbatim; integer floor math only
        "pack_sequences": """
            WITH base AS (
              SELECT doc_id, source AS grp,
                     len(string_split(text, ' ')) AS n_tokens,
                     md5(doc_id::VARCHAR) AS h
              FROM documents WHERE text IS NOT NULL
            ), c AS (
              SELECT doc_id, grp, n_tokens,
                     sum(n_tokens) OVER (PARTITION BY grp ORDER BY h, doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
              FROM base
            )
            SELECT doc_id, grp, n_tokens::BIGINT AS n_tokens,
                   (cum - n_tokens)::BIGINT AS start_off,
                   CAST(floor((cum - n_tokens) / 256) AS BIGINT) AS bin_start,
                   CAST(floor((cum - 1) / 256) AS BIGINT) AS bin_end
            FROM c
        """,
        "packing_stats": """
            WITH base AS (
              SELECT doc_id, source AS grp,
                     len(string_split(text, ' ')) AS n_tokens,
                     md5(doc_id::VARCHAR) AS h
              FROM documents WHERE text IS NOT NULL
            ), c AS (
              SELECT grp, n_tokens,
                     sum(n_tokens) OVER (PARTITION BY grp ORDER BY h, doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
              FROM base
            ), p AS (
              SELECT grp, n_tokens,
                     CAST(floor((cum - 1) / 256) AS BIGINT) AS bin_end
              FROM c
            )
            SELECT grp, count(*)::BIGINT AS n_docs,
                   sum(n_tokens)::BIGINT AS n_tokens,
                   (max(bin_end) + 1)::BIGINT AS n_bins,
                   round(sum(n_tokens)::DOUBLE / ((max(bin_end) + 1) * 256), 6)
                     AS fill_ratio
            FROM p GROUP BY grp
        """,
        "random_walks": _walks_sql(num_steps=4),
        "walk_cooccurrence": _walk_cooc_sql(num_steps=4, window=2),
        "biased_walks": _biased_walks_sql(num_steps=4, p=2.0, q=0.5),
        "mc_pagerank": _mc_pagerank_sql(c=0.85, reps=2, max_steps=6),
        "neighborhood2": f"""
            WITH {E},
            r2 AS (
              SELECT r.src AS vid, s.dst AS nbr
              FROM sym r JOIN sym s ON s.src = r.dst
            ),
            u AS (
              SELECT DISTINCT vid, nbr FROM (
                SELECT src AS vid, dst AS nbr FROM sym
                UNION ALL SELECT vid, nbr FROM r2
              ) WHERE nbr <> vid
            )
            SELECT vid, count(*) AS n_reach FROM u GROUP BY vid
        """,
        # site-level co-citation: one wedge over the host rollup
        "related_hosts": f"""
            WITH {E}, {DOC_DIRECTED_SQL.strip()}, {_HOST_GRAPH},
            t0 AS (SELECT 1)
            SELECT l.dst AS a, r.dst AS b, count(*) AS common
            FROM he l JOIN he r ON l.src = r.src AND l.dst < r.dst
            GROUP BY l.dst, r.dst
            HAVING count(*) >= 2
        """,
        # standalone HLL over tokens: same register rule as _anf_sql
        "hll_distinct_tokens": """
            WITH toks AS (SELECT unnest(list_filter(string_split(text, ' '),
                                 y -> y <> '')) AS x FROM documents),
            rr AS (SELECT CASE WHEN ('0x' || substr(md5('hll:' || x), 1, 1))::BIGINT = 0 THEN CASE WHEN ('0x' || substr(md5('hll:' || x), 2, 12))::BIGINT = 0 THEN 49 ELSE 49 - length(bin(('0x' || substr(md5('hll:' || x), 2, 12))::BIGINT)) END ELSE 0 END AS r0, CASE WHEN ('0x' || substr(md5('hll:' || x), 1, 1))::BIGINT = 1 THEN CASE WHEN ('0x' || substr(md5('hll:' || x), 2, 12))::BIGINT = 0 THEN 49 ELSE 49 - length(bin(('0x' || substr(md5('hll:' || x), 2, 12))::BIGINT)) END ELSE 0 END AS r1, CASE WHEN ('0x' || substr(md5('hll:' || x), 1, 1))::BIGINT = 2 THEN CASE WHEN ('0x' || substr(md5('hll:' || x), 2, 12))::BIGINT = 0 THEN 49 ELSE 49 - length(bin(('0x' || substr(md5('hll:' || x), 2, 12))::BIGINT)) END ELSE 0 END AS r2, CASE WHEN ('0x' || substr(md5('hll:' || x), 1, 1))::BIGINT = 3 THEN CASE WHEN ('0x' || substr(md5('hll:' || x), 2, 12))::BIGINT = 0 THEN 49 ELSE 49 - length(bin(('0x' || substr(md5('hll:' || x), 2, 12))::BIGINT)) END ELSE 0 END AS r3, CASE WHEN ('0x' || substr(md5('hll:' || x), 1, 1))::BIGINT = 4 THEN CASE WHEN ('0x' || substr(md5('hll:' || x), 2, 12))::BIGINT = 0 THEN 49 ELSE 49 - length(bin(('0x' || substr(md5('hll:' || x), 2, 12))::BIGINT)) END ELSE 0 END AS r4, CASE WHEN ('0x' || substr(md5('hll:' || x), 1, 1))::BIGINT = 5 THEN CASE WHEN ('0x' || substr(md5('hll:' || x), 2, 12))::BIGINT = 0 THEN 49 ELSE 49 - length(bin(('0x' || substr(md5('hll:' || x), 2, 12))::BIGINT)) END ELSE 0 END AS r5, CASE WHEN ('0x' || substr(md5('hll:' || x), 1, 1))::BIGINT = 6 THEN CASE WHEN ('0x' || substr(md5('hll:' || x), 2, 12))::BIGINT = 0 THEN 49 ELSE 49 - length(bin(('0x' || substr(md5('hll:' || x), 2, 12))::BIGINT)) END ELSE 0 END AS r6, CASE WHEN ('0x' || substr(md5('hll:' || x), 1, 1))::BIGINT = 7 THEN CASE WHEN ('0x' || substr(md5('hll:' || x), 2, 12))::BIGINT = 0 THEN 49 ELSE 49 - length(bin(('0x' || substr(md5('hll:' || x), 2, 12))::BIGINT)) END ELSE 0 END AS r7, CASE WHEN ('0x' || substr(md5('hll:' || x), 1, 1))::BIGINT = 8 THEN CASE WHEN ('0x' || substr(md5('hll:' || x), 2, 12))::BIGINT = 0 THEN 49 ELSE 49 - length(bin(('0x' || substr(md5('hll:' || x), 2, 12))::BIGINT)) END ELSE 0 END AS r8, CASE WHEN ('0x' || substr(md5('hll:' || x), 1, 1))::BIGINT = 9 THEN CASE WHEN ('0x' || substr(md5('hll:' || x), 2, 12))::BIGINT = 0 THEN 49 ELSE 49 - length(bin(('0x' || substr(md5('hll:' || x), 2, 12))::BIGINT)) END ELSE 0 END AS r9, CASE WHEN ('0x' || substr(md5('hll:' || x), 1, 1))::BIGINT = 10 THEN CASE WHEN ('0x' || substr(md5('hll:' || x), 2, 12))::BIGINT = 0 THEN 49 ELSE 49 - length(bin(('0x' || substr(md5('hll:' || x), 2, 12))::BIGINT)) END ELSE 0 END AS r10, CASE WHEN ('0x' || substr(md5('hll:' || x), 1, 1))::BIGINT = 11 THEN CASE WHEN ('0x' || substr(md5('hll:' || x), 2, 12))::BIGINT = 0 THEN 49 ELSE 49 - length(bin(('0x' || substr(md5('hll:' || x), 2, 12))::BIGINT)) END ELSE 0 END AS r11, CASE WHEN ('0x' || substr(md5('hll:' || x), 1, 1))::BIGINT = 12 THEN CASE WHEN ('0x' || substr(md5('hll:' || x), 2, 12))::BIGINT = 0 THEN 49 ELSE 49 - length(bin(('0x' || substr(md5('hll:' || x), 2, 12))::BIGINT)) END ELSE 0 END AS r12, CASE WHEN ('0x' || substr(md5('hll:' || x), 1, 1))::BIGINT = 13 THEN CASE WHEN ('0x' || substr(md5('hll:' || x), 2, 12))::BIGINT = 0 THEN 49 ELSE 49 - length(bin(('0x' || substr(md5('hll:' || x), 2, 12))::BIGINT)) END ELSE 0 END AS r13, CASE WHEN ('0x' || substr(md5('hll:' || x), 1, 1))::BIGINT = 14 THEN CASE WHEN ('0x' || substr(md5('hll:' || x), 2, 12))::BIGINT = 0 THEN 49 ELSE 49 - length(bin(('0x' || substr(md5('hll:' || x), 2, 12))::BIGINT)) END ELSE 0 END AS r14, CASE WHEN ('0x' || substr(md5('hll:' || x), 1, 1))::BIGINT = 15 THEN CASE WHEN ('0x' || substr(md5('hll:' || x), 2, 12))::BIGINT = 0 THEN 49 ELSE 49 - length(bin(('0x' || substr(md5('hll:' || x), 2, 12))::BIGINT)) END ELSE 0 END AS r15 FROM toks),
            agg AS (SELECT max(r0) AS r0, max(r1) AS r1, max(r2) AS r2, max(r3) AS r3, max(r4) AS r4, max(r5) AS r5, max(r6) AS r6, max(r7) AS r7, max(r8) AS r8, max(r9) AS r9, max(r10) AS r10, max(r11) AS r11, max(r12) AS r12, max(r13) AS r13, max(r14) AS r14, max(r15) AS r15, count(*) AS n FROM rr),
            est AS (SELECT CASE WHEN (0.673 * 256) / (power(2.0, -r0) + power(2.0, -r1) + power(2.0, -r2) + power(2.0, -r3) + power(2.0, -r4) + power(2.0, -r5) + power(2.0, -r6) + power(2.0, -r7) + power(2.0, -r8) + power(2.0, -r9) + power(2.0, -r10) + power(2.0, -r11) + power(2.0, -r12) + power(2.0, -r13) + power(2.0, -r14) + power(2.0, -r15)) <= 40
                                 AND (CASE WHEN r0 = 0 THEN 1 ELSE 0 END + CASE WHEN r1 = 0 THEN 1 ELSE 0 END + CASE WHEN r2 = 0 THEN 1 ELSE 0 END + CASE WHEN r3 = 0 THEN 1 ELSE 0 END + CASE WHEN r4 = 0 THEN 1 ELSE 0 END + CASE WHEN r5 = 0 THEN 1 ELSE 0 END + CASE WHEN r6 = 0 THEN 1 ELSE 0 END + CASE WHEN r7 = 0 THEN 1 ELSE 0 END + CASE WHEN r8 = 0 THEN 1 ELSE 0 END + CASE WHEN r9 = 0 THEN 1 ELSE 0 END + CASE WHEN r10 = 0 THEN 1 ELSE 0 END + CASE WHEN r11 = 0 THEN 1 ELSE 0 END + CASE WHEN r12 = 0 THEN 1 ELSE 0 END + CASE WHEN r13 = 0 THEN 1 ELSE 0 END + CASE WHEN r14 = 0 THEN 1 ELSE 0 END + CASE WHEN r15 = 0 THEN 1 ELSE 0 END) > 0
                            THEN 16.0 * ln(16.0 / (CASE WHEN r0 = 0 THEN 1 ELSE 0 END + CASE WHEN r1 = 0 THEN 1 ELSE 0 END + CASE WHEN r2 = 0 THEN 1 ELSE 0 END + CASE WHEN r3 = 0 THEN 1 ELSE 0 END + CASE WHEN r4 = 0 THEN 1 ELSE 0 END + CASE WHEN r5 = 0 THEN 1 ELSE 0 END + CASE WHEN r6 = 0 THEN 1 ELSE 0 END + CASE WHEN r7 = 0 THEN 1 ELSE 0 END + CASE WHEN r8 = 0 THEN 1 ELSE 0 END + CASE WHEN r9 = 0 THEN 1 ELSE 0 END + CASE WHEN r10 = 0 THEN 1 ELSE 0 END + CASE WHEN r11 = 0 THEN 1 ELSE 0 END + CASE WHEN r12 = 0 THEN 1 ELSE 0 END + CASE WHEN r13 = 0 THEN 1 ELSE 0 END + CASE WHEN r14 = 0 THEN 1 ELSE 0 END + CASE WHEN r15 = 0 THEN 1 ELSE 0 END))
                            ELSE (0.673 * 256) / (power(2.0, -r0) + power(2.0, -r1) + power(2.0, -r2) + power(2.0, -r3) + power(2.0, -r4) + power(2.0, -r5) + power(2.0, -r6) + power(2.0, -r7) + power(2.0, -r8) + power(2.0, -r9) + power(2.0, -r10) + power(2.0, -r11) + power(2.0, -r12) + power(2.0, -r13) + power(2.0, -r14) + power(2.0, -r15)) END AS e,
                           n FROM agg)
            SELECT round(e, 6) AS est, n::BIGINT AS n_rows FROM est
        """,
        # CMS replay: same md5 bucket rule ("cms:{seed}:{d}:{token}"),
        # min over depth rows, exact counts joined alongside
        "cms_heavy_hitters": """
            WITH toks AS (SELECT unnest(list_filter(string_split(text, ' '),
                                 x -> x <> '')) AS token FROM documents),
            bk AS (SELECT token, d,
                          ('0x' || substr(md5('cms:42:' || d::VARCHAR
                                              || ':' || token), 1, 12))::BIGINT
                            % 1024 AS bucket
                   FROM toks, unnest([0, 1, 2, 3]) AS u(d)),
            sk AS (SELECT d, bucket, count(*) AS cnt FROM bk
                   GROUP BY d, bucket),
            probes AS (SELECT DISTINCT token, d, bucket FROM bk),
            est AS (SELECT p.token, min(coalesce(s.cnt, 0)) AS est
                    FROM probes p LEFT JOIN sk s USING (d, bucket)
                    GROUP BY p.token),
            ex AS (SELECT token, count(*) AS exact FROM toks GROUP BY token)
            SELECT token, est, exact, rank FROM (
              SELECT e.token, e.est, x.exact,
                     row_number() OVER (ORDER BY e.est DESC, e.token ASC)
                       AS rank
              FROM est e JOIN ex x USING (token)
            ) WHERE rank <= 10
        """,
        "clustering_by_degree": f"""
            WITH {E}, {_TRI},
            pv AS (
              SELECT vid, count(*) AS tc FROM (
                SELECT i AS vid FROM tri
                UNION ALL SELECT j FROM tri
                UNION ALL SELECT k FROM tri
              ) GROUP BY vid
            ),
            lcc AS (
              SELECT d.degree,
                     round(coalesce(pv.tc, 0)
                           / (d.degree*(d.degree-1)/2.0), 6) AS lcc
              FROM deg d LEFT JOIN pv ON pv.vid = d.vid
              WHERE d.degree >= 2
            )
            SELECT degree, count(*) AS n_vertices,
                   round(avg(lcc), 6) AS avg_lcc
            FROM lcc GROUP BY degree
        """,
        "host_distribution": """
            WITH hc AS (SELECT coalesce(source, '') AS h, count(*) AS c
                        FROM documents GROUP BY 1),
            t AS (SELECT sum(c)::DOUBLE AS n FROM hc)
            SELECT count(*) AS n_hosts,
                   sum(c)::BIGINT AS n_docs,
                   round(-sum((c / (SELECT n FROM t))
                              * ln(c / (SELECT n FROM t))), 6) AS entropy,
                   round(sum(pow(c / (SELECT n FROM t), 2)), 6) AS hhi,
                   round(max(c / (SELECT n FROM t)), 6) AS top1_share
            FROM hc
        """,
        "tpch_q1": """
            SELECT l_returnflag, l_linestatus,
                   round(sum(l_quantity), 4) AS sum_qty,
                   round(sum(l_extendedprice), 4) AS sum_base_price,
                   round(sum(l_extendedprice * (1 - l_discount)), 4)
                     AS sum_disc_price,
                   round(sum(l_extendedprice * (1 - l_discount)
                             * (1 + l_tax)), 4) AS sum_charge,
                   round(avg(l_quantity), 6) AS avg_qty,
                   round(avg(l_discount), 6) AS avg_disc,
                   count(*) AS count_order
            FROM lineitem
            WHERE l_shipdate <= TIMESTAMP '1998-09-01'
            GROUP BY l_returnflag, l_linestatus
        """,
        "tpch_q3": """
            SELECT l.l_orderkey, o.o_orderdate, o.o_orderpriority,
                   round(sum(l.l_extendedprice * (1 - l.l_discount)), 4)
                     AS revenue
            FROM lineitem l
            JOIN orders o ON o.o_orderkey = l.l_orderkey
            JOIN customer c ON c.c_custkey = o.o_custkey
            WHERE c.c_mktsegment = 'BUILDING'
              AND o.o_orderdate < TIMESTAMP '1998-03-15'
              AND l.l_shipdate > TIMESTAMP '1998-03-15'
            GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
            ORDER BY revenue DESC, l.l_orderkey ASC
            LIMIT 10
        """,
        "tpch_q5": """
            SELECT n.n_name,
                   round(sum(l.l_extendedprice * (1 - l.l_discount)), 4)
                     AS revenue
            FROM lineitem l
            JOIN orders o ON o.o_orderkey = l.l_orderkey
            JOIN customer c ON c.c_custkey = o.o_custkey
            JOIN supplier s ON s.s_suppkey = l.l_suppkey
                           AND s.s_nationkey = c.c_nationkey
            JOIN nation n ON n.n_nationkey = s.s_nationkey
            JOIN region r ON r.r_regionkey = n.n_regionkey
            WHERE r.r_name = 'EUROPE'
              AND o.o_orderdate >= TIMESTAMP '1996-01-01'
              AND o.o_orderdate < TIMESTAMP '1997-01-01'
            GROUP BY n.n_name
        """,
        # interpolated 0.9-effective diameter over the _anf_sql curve;
        # the hit row's nf > prev by first-hit construction (no /0)
        "effective_diameter": f"""
            WITH curve AS MATERIALIZED ({_anf_sql(max_h=6)}),
            mx AS (SELECT nf AS nfm FROM curve ORDER BY h DESC LIMIT 1),
            fl AS (SELECT h, nf, lag(nf) OVER (ORDER BY h) AS prev FROM curve),
            hit AS (SELECT h, nf, prev FROM fl
                    WHERE nf >= 0.9 * (SELECT nfm FROM mx)
                    ORDER BY h LIMIT 1)
            SELECT CASE WHEN (SELECT prev FROM hit) IS NULL THEN 0.0
                   ELSE round((SELECT h FROM hit) - 1
                        + (0.9 * (SELECT nfm FROM mx) - (SELECT prev FROM hit))
                          / ((SELECT nf FROM hit) - (SELECT prev FROM hit)), 6)
                   END AS d_eff,
                   (SELECT h FROM hit)::BIGINT AS h_ceil,
                   (SELECT nfm FROM mx) AS nf_max
        """,
        "anf_curve": _anf_sql(max_h=6),
        "sample_stratified": """
            SELECT doc_id, lang, source FROM documents
            WHERE ('0x' || substr(md5('smp:42:' || doc_id::VARCHAR), 1, 12))::BIGINT
                    % 1000000
                  < CASE lang WHEN 'en' THEN 500000 WHEN 'de' THEN 250000
                              WHEN 'fr' THEN 100000 WHEN 'es' THEN 1000000
                              WHEN 'zh' THEN 750000 ELSE 50000 END
        """,
        # mirrors operators/repetition.py exactly: positional (non-distinct)
        # word n-grams; top gram = max count, tie -> lexicographically
        # smallest; dup mass = sum over grams occurring >= 2 times
        "repetition_metrics": f"""
            WITH {_TOKS},
            pg2 AS (
              SELECT doc_id, array_to_string(list_slice(t, i, i+1), ' ') AS g
              FROM toks, unnest(generate_series(1, len(t)-1)) AS u(i)
              WHERE len(t) >= 2
            ),
            c2 AS (SELECT doc_id, g, count(*) AS c FROM pg2 GROUP BY doc_id, g),
            t2 AS (SELECT doc_id, c*length(g) AS mass,
                          row_number() OVER (PARTITION BY doc_id
                                             ORDER BY c DESC, g ASC) AS rn
                   FROM c2),
            tm AS (SELECT doc_id, mass FROM t2 WHERE rn = 1),
            pg3 AS (
              SELECT doc_id, array_to_string(list_slice(t, i, i+2), ' ') AS g
              FROM toks, unnest(generate_series(1, len(t)-2)) AS u(i)
              WHERE len(t) >= 3
            ),
            c3 AS (SELECT doc_id, g, count(*) AS c FROM pg3 GROUP BY doc_id, g),
            dm AS (SELECT doc_id, sum(c*length(g)) AS mass FROM c3
                   WHERE c >= 2 GROUP BY doc_id)
            SELECT d.doc_id,
                   round(coalesce(tm.mass, 0) / greatest(length(d.text), 1), 6)
                     AS top2_frac,
                   round(least(1.0, coalesce(dm.mass, 0)
                                    / greatest(length(d.text), 1)), 6)
                     AS dup3_frac
            FROM documents d LEFT JOIN tm USING (doc_id)
                             LEFT JOIN dm USING (doc_id)
        """,
        "vocabulary": f"""
            WITH {_TOKS},
            occ AS (
              SELECT token, count(*) AS n_occurrences
              FROM (SELECT unnest(t) AS token FROM toks)
              WHERE token <> '' GROUP BY token
            ),
            pd AS (
              SELECT token, count(*) AS n_docs
              FROM (SELECT DISTINCT doc_id, token
                    FROM (SELECT doc_id, unnest(t) AS token FROM toks))
              WHERE token <> '' GROUP BY token
            ),
            rk AS (
              SELECT token, n_occurrences,
                     row_number() OVER (ORDER BY n_occurrences DESC,
                                        token ASC) AS rank
              FROM occ
            )
            SELECT rk.token, rk.n_occurrences, pd.n_docs, rk.rank
            FROM rk JOIN pd USING (token) WHERE rk.rank <= 50
        """,
        # doc_id % 97 == 0 docs are the stand-in benchmark; both gram sets
        # distinct, so the count is a set-intersection size
        "contamination": f"""
            WITH {_TOKS},
            bg AS (
              SELECT DISTINCT array_to_string(list_slice(t, i, i+2), ' ') AS g
              FROM toks, unnest(generate_series(1, len(t)-2)) AS u(i)
              WHERE len(t) >= 3 AND doc_id % 97 = 0
            ),
            dg AS (
              SELECT DISTINCT doc_id,
                              array_to_string(list_slice(t, i, i+2), ' ') AS g
              FROM toks, unnest(generate_series(1, len(t)-2)) AS u(i)
              WHERE len(t) >= 3 AND doc_id % 97 <> 0
            )
            SELECT doc_id, count(*) AS n_matched_grams
            FROM dg JOIN bg USING (g) GROUP BY doc_id
        """,
        "reciprocity": f"""
            WITH {E}, {DOC_DIRECTED_SQL.strip()},
            ce AS (SELECT DISTINCT src, dst FROM dlinks WHERE src <> dst),
            mp AS (SELECT count(*) AS c FROM ce a
                   JOIN ce b ON a.src = b.dst AND a.dst = b.src
                   WHERE a.src < a.dst)
            SELECT (SELECT count(*) FROM ce) AS n_edges,
                   2*mp.c AS n_reciprocal,
                   round(2*mp.c / greatest((SELECT count(*) FROM ce), 1), 6)
                     AS reciprocity
            FROM mp
        """,
        "assortativity": f"""
            WITH {E}
            SELECT round(corr(du.degree, dv.degree), 6) AS assortativity
            FROM sym s JOIN deg du ON du.vid = s.src
                       JOIN deg dv ON dv.vid = s.dst
        """,
        "cc_hashmin_step1": f"""
            WITH {E}
            SELECT s.dst AS vid, least(s.dst, min(s.src)) AS comp
            FROM sym s GROUP BY s.dst
        """,
        "bfs_from_0": f"""
            WITH RECURSIVE {E},
            r(vid, d) AS (
              SELECT CAST(0 AS BIGINT), 0
              UNION
              SELECT s.dst, r.d + 1
              FROM sym s JOIN r ON r.vid = s.src
              WHERE r.d < 64
            )
            SELECT vid, min(d) AS dist FROM r GROUP BY vid
        """,
        "cc_converged": f"""
            WITH RECURSIVE {E},
            r(vid, x) AS (
              SELECT vid, vid FROM deg
              UNION
              SELECT s.dst, r.x FROM sym s JOIN r ON r.vid = s.src
            )
            SELECT vid, min(x) AS comp FROM r GROUP BY vid
        """,
        "hitting_times": _hitting_sql(iters=6, mod=97),
        "louvain2": _louvain_sql(rounds=2),
        "louvain_graph": _louvain_sql(rounds=2, aggregate=True),
        "pq_codes": _pq_sql("codes"),
        "pq_search": _pq_sql("search"),
        # window replay of the union-and-carry construction — NOT native
        # ASOF JOIN, whose same-ts tiebreak is unspecified (asof.py)
        "asof_purchase_click": """
            WITH r AS (SELECT user_id, ts AS _ts, 0 AS _side,
                              event_id AS _oid, event_id AS _re
                       FROM events WHERE event_type = 'click'),
            l AS (SELECT user_id, ts AS _ts, 1 AS _side,
                         event_id AS _oid, NULL::BIGINT AS _re
                  FROM events WHERE event_type = 'purchase'),
            u AS (SELECT * FROM r UNION ALL SELECT * FROM l),
            c AS (SELECT user_id, _ts, _side, _oid,
                    last_value(_re IGNORE NULLS) OVER (
                      PARTITION BY user_id ORDER BY _ts, _side, _oid
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                    ) AS _m
                  FROM u)
            SELECT c._oid AS event_id, c.user_id, c._ts AS ts,
                   c._m AS r_event_id, e.ts AS r_ts, e.value AS r_value
            FROM c LEFT JOIN events e ON e.event_id = c._m
            WHERE c._side = 1
        """,
        # exp() ulp differences JVM-vs-libm sit ~1e-16, far under the 6dp
        # rounding; weights are integer-exact before the single division
        "classify": """
            WITH t AS (
              SELECT doc_id, tok FROM (
                SELECT doc_id, unnest(string_split(text, ' ')) AS tok
                FROM documents WHERE text IS NOT NULL)
              WHERE tok <> ''
            ),
            s AS (
              SELECT doc_id, count(*)::BIGINT AS n_tokens,
                     round(avg(
                       (((('0x' || substr(md5('clf:29:' || tok), 1, 12))::BIGINT
                          % 1024) * 2654435761) % 2000001) / 1000000.0 - 1.0
                     ), 6) AS score
              FROM t GROUP BY doc_id
            )
            SELECT doc_id, n_tokens, score,
                   round(1.0/(1.0 + exp(-score)), 6) AS prob,
                   round(1.0/(1.0 + exp(-score)), 6) >= 0.5 AS label
            FROM s
        """,
        # the incremental path must equal the from-scratch labeling —
        # the oracle IS the full-graph recompute
        "cc_incremental": f"""
            WITH RECURSIVE {E},
            r(vid, x) AS (
              SELECT vid, vid FROM deg
              UNION
              SELECT s.dst, r.x FROM sym s JOIN r ON r.vid = s.src
            )
            SELECT vid, min(x) AS comp FROM r GROUP BY vid
        """,
        "cc_star": f"""
            WITH RECURSIVE {E},
            r(vid, x) AS (
              SELECT vid, vid FROM deg
              UNION
              SELECT s.dst, r.x FROM sym s JOIN r ON r.vid = s.src
            )
            SELECT vid, min(x) AS comp FROM r GROUP BY vid
        """,
        "token_counts_bpe": """
            SELECT doc_id,
                   len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]'))
                     AS n_bpe_tokens
            FROM documents
        """,
        "pagerank_iter2": f"""
            WITH {E},
            nv AS (SELECT count(*) AS n FROM deg),
            r0 AS (SELECT vid, 1.0/(SELECT n FROM nv) AS rank, degree FROM deg),
            r1 AS (
              SELECT s.dst AS vid,
                     0.15/(SELECT n FROM nv) + 0.85*sum(r.rank/r.degree) AS rank
              FROM sym s JOIN r0 r ON s.src = r.vid GROUP BY s.dst
            ),
            r1d AS (SELECT r1.vid, r1.rank, d.degree FROM r1 JOIN deg d ON r1.vid = d.vid),
            r2 AS (
              SELECT s.dst AS vid,
                     0.15/(SELECT n FROM nv) + 0.85*sum(r.rank/r.degree) AS rank
              FROM sym s JOIN r1d r ON s.src = r.vid GROUP BY s.dst
            )
            SELECT vid, round(rank, 6) AS rank FROM r2
        """,
        "spectral_cut": _spectral_sql(4),
        "mrl_recall": _mrl_sql(),
        "host_conductance": f"""
            WITH {E},
            hb AS (SELECT doc_id AS vid,
                          (('0x' || substr(md5(source), 1, 12))::BIGINT
                           % 16)::INTEGER AS side
                   FROM documents),
            j AS (SELECT a.side AS sa, b.side AS sb
                  FROM sym s JOIN hb a ON a.vid = s.src
                             JOIN hb b ON b.vid = s.dst),
            per AS (SELECT sa AS side, count(*) AS volume,
                           sum(CASE WHEN sa <> sb THEN 1 ELSE 0 END)
                             AS cut_edges
                    FROM j GROUP BY 1),
            tot AS (SELECT sum(volume) AS tv FROM per)
            SELECT side, volume::BIGINT AS volume,
                   cut_edges::BIGINT AS cut_edges,
                   round(cut_edges::DOUBLE
                         / nullif(least(volume, t.tv - volume), 0), 6)
                     AS conductance
            FROM per, tot t
        """,
        "edge_diff": f"""
            WITH {E},
            o AS (SELECT src, dst FROM und WHERE (src + dst) % 25 <> 0),
            m AS (SELECT
              (SELECT count(*) FROM o) AS n_old,
              (SELECT count(*) FROM und) AS n_new,
              (SELECT count(*) FROM und u WHERE NOT EXISTS
                 (SELECT 1 FROM o WHERE o.src = u.src AND o.dst = u.dst))
                AS n_added,
              (SELECT count(*) FROM o WHERE NOT EXISTS
                 (SELECT 1 FROM und u WHERE u.src = o.src
                                        AND u.dst = o.dst)) AS n_removed,
              (SELECT count(*) FROM o WHERE EXISTS
                 (SELECT 1 FROM und u WHERE u.src = o.src
                                        AND u.dst = o.dst)) AS n_common)
            SELECT n_old::BIGINT AS n_old, n_new::BIGINT AS n_new,
                   n_added::BIGINT AS n_added,
                   n_removed::BIGINT AS n_removed,
                   n_common::BIGINT AS n_common,
                   round(n_common::DOUBLE
                         / nullif(n_common + n_added + n_removed, 0), 6)
                     AS jaccard
            FROM m
        """,
        # warm-start PR: old-graph chain (96% of und edges, its own deg/n)
        # then the full-graph chain seeded from o2, missing vids -> 1/n
        "pagerank_warm": f"""
            WITH {E},
            undo AS (SELECT src, dst FROM und WHERE (src + dst) % 25 <> 0),
            symo AS (SELECT src, dst FROM undo
                     UNION ALL SELECT dst, src FROM undo),
            dego AS (SELECT src AS vid, count(*) AS degree FROM symo
                     GROUP BY 1),
            nvo AS (SELECT count(*) AS n FROM dego),
            o0 AS (SELECT vid, 1.0/(SELECT n FROM nvo) AS rank, degree
                   FROM dego),
            o1 AS (SELECT s.dst AS vid,
                          0.15/(SELECT n FROM nvo)
                          + 0.85*sum(r.rank/r.degree) AS rank
                   FROM symo s JOIN o0 r ON s.src = r.vid GROUP BY 1),
            o1d AS (SELECT o1.vid, o1.rank, d.degree FROM o1
                    JOIN dego d USING (vid)),
            o2 AS (SELECT s.dst AS vid,
                          0.15/(SELECT n FROM nvo)
                          + 0.85*sum(r.rank/r.degree) AS rank
                   FROM symo s JOIN o1d r ON s.src = r.vid GROUP BY 1),
            nv AS (SELECT count(*) AS n FROM deg),
            w0 AS (SELECT d.vid,
                          coalesce(o2.rank, 1.0/(SELECT n FROM nv)) AS rank,
                          d.degree
                   FROM deg d LEFT JOIN o2 ON o2.vid = d.vid),
            w1 AS (SELECT s.dst AS vid,
                          0.15/(SELECT n FROM nv)
                          + 0.85*sum(r.rank/r.degree) AS rank
                   FROM sym s JOIN w0 r ON s.src = r.vid GROUP BY 1),
            w1d AS (SELECT w1.vid, w1.rank, d.degree FROM w1
                    JOIN deg d USING (vid)),
            w2 AS (SELECT s.dst AS vid,
                          0.15/(SELECT n FROM nv)
                          + 0.85*sum(r.rank/r.degree) AS rank
                   FROM sym s JOIN w1d r ON s.src = r.vid GROUP BY 1)
            SELECT vid, round(rank, 6) AS rank FROM w2
        """,
        # keyness: Haldane-Anscombe-smoothed log-odds, textually the same
        # arithmetic shape as the Spark columns; ln() both engines
        "keyness_by_lang": """
            WITH tk AS (
              SELECT coalesce(lang, '') AS key,
                     unnest(list_filter(string_split(text, ' '),
                                        x -> x <> '')) AS token
              FROM documents WHERE text IS NOT NULL
            ),
            tf AS (SELECT key, token, count(*) AS n FROM tk GROUP BY 1, 2),
            kt AS (SELECT key, sum(n) AS kt FROM tf GROUP BY 1),
            ct AS (SELECT token, sum(n) AS ct FROM tf GROUP BY 1),
            gt AS (SELECT sum(n) AS gt FROM tf),
            s AS (
              SELECT f.key, f.token, f.n,
                     round(ln((f.n + 0.5)/(k.kt - f.n + 0.5))
                           - ln((c.ct - f.n + 0.5)
                                /(g.gt - k.kt - (c.ct - f.n) + 0.5)), 6)
                       AS log_odds
              FROM tf f JOIN kt k USING (key)
              JOIN ct c USING (token), gt g
            )
            SELECT key, token, n::BIGINT AS n, log_odds, rank FROM (
              SELECT *, row_number() OVER (PARTITION BY key
                ORDER BY log_odds DESC, token) AS rank FROM s
            ) WHERE rank <= 10
        """,
        "token_freq_spectrum": """
            WITH tk AS (
              SELECT unnest(list_filter(string_split(text, ' '),
                                        x -> x <> '')) AS token
              FROM documents WHERE text IS NOT NULL
            ),
            tf AS (SELECT token, count(*) AS occ FROM tk GROUP BY 1)
            SELECT occ::BIGINT AS occurrences,
                   count(*)::BIGINT AS n_types
            FROM tf GROUP BY 1
        """,
        # windowed funnel: the funnel oracle + the exact interval gate
        "funnel_windowed": """
            WITH s1 AS (SELECT user_id, min(ts) AS t FROM events
                        WHERE event_type = 'view' GROUP BY 1),
            s2 AS (SELECT e.user_id, min(e.ts) AS t
                   FROM events e JOIN s1 ON s1.user_id = e.user_id
                   WHERE e.event_type = 'click' AND e.ts > s1.t
                     AND e.ts <= s1.t + INTERVAL 3600 SECONDS
                   GROUP BY 1),
            s3 AS (SELECT e.user_id, min(e.ts) AS t
                   FROM events e JOIN s2 ON s2.user_id = e.user_id
                   WHERE e.event_type = 'purchase' AND e.ts > s2.t
                     AND e.ts <= s2.t + INTERVAL 3600 SECONDS
                   GROUP BY 1),
            c AS (SELECT (SELECT count(*) FROM s1) AS c1,
                         (SELECT count(*) FROM s2) AS c2,
                         (SELECT count(*) FROM s3) AS c3)
            SELECT 1 AS stage_idx, 'view' AS stage, c1::BIGINT AS n_users,
                   round(c1::DOUBLE / nullif(c1, 0), 6) AS conv_from_prev,
                   round(c1::DOUBLE / nullif(c1, 0), 6) AS conv_from_first
            FROM c
            UNION ALL
            SELECT 2, 'click', c2::BIGINT,
                   round(c2::DOUBLE / nullif(c1, 0), 6),
                   round(c2::DOUBLE / nullif(c1, 0), 6) FROM c
            UNION ALL
            SELECT 3, 'purchase', c3::BIGINT,
                   round(c3::DOUBLE / nullif(c2, 0), 6),
                   round(c3::DOUBLE / nullif(c1, 0), 6) FROM c
        """,
        # crawl budget: host-PR (rounded) x (1 - dup_rate) over the host
        # rollup, normalized; both factors come pre-rounded so the
        # product is identical IEEE on both engines
        "crawl_budget": f"""
            WITH pr AS MATERIALIZED ({_host_pr_sql(iters=2)}),
            dr AS (
              SELECT coalesce(source, '') AS key,
                     round(1 - count(DISTINCT md5(text))
                           / (1.0 * count(*)), 6) AS dup_rate
              FROM documents WHERE text IS NOT NULL GROUP BY 1
            ),
            j AS (
              SELECT pr.host, pr.rank,
                     coalesce(dr.dup_rate, 0.0) AS dup_rate,
                     pr.rank * (1.0 - coalesce(dr.dup_rate, 0.0)) AS raw
              FROM pr LEFT JOIN dr ON dr.key = pr.host
            )
            SELECT host, rank, dup_rate,
                   round(raw / (SELECT sum(raw) FROM j), 6) AS weight
            FROM j
        """,
        # small-world sigma: ANF-curve mean hop + exact clustering vs ER
        # baselines; ln() both sides (libm), constants formula-identical
        "small_world": f"""
            WITH curve AS MATERIALIZED ({_anf_sql(max_h=6)}),
            base AS MATERIALIZED (
              SELECT * FROM (
                WITH {E}, {_TRI},
                t AS (SELECT count(*) AS tc FROM tri),
                wg AS (SELECT sum(degree*(degree-1))/2 AS w FROM deg),
                nm AS (SELECT count(*) AS n FROM deg),
                mm AS (SELECT count(*) AS m FROM und)
                SELECT 3.0*t.tc/wg.w AS gcc, nm.n AS n,
                       (2.0*mm.m/nm.n)/nm.n AS c_rand,
                       ln(nm.n)/ln(2.0*mm.m/nm.n) AS l_rand
                FROM t, wg, nm, mm)
            ),
            d AS (SELECT h, nf, lag(nf) OVER (ORDER BY h) AS prev
                  FROM curve),
            l AS (SELECT sum(h*(nf-prev)) AS num, sum(nf-prev) AS den
                  FROM d WHERE prev IS NOT NULL)
            SELECT round(gcc, 6) AS clustering,
                   round(num/den, 6) AS avg_path,
                   round(c_rand, 6) AS c_rand,
                   round(l_rand, 6) AS l_rand,
                   round((gcc/c_rand)/((num/den)/l_rand), 6) AS sigma
            FROM l, base
        """,
        # JSON profiler: json_keys + json_extract_string coerce scalars
        # the same way Spark's map<string,string> parse does
        "json_profile": """
            WITH kv AS (
              SELECT unnest(json_keys(props)) AS key, props
              FROM events WHERE props IS NOT NULL
            ),
            v AS (SELECT key,
                         json_extract_string(props, '$."' || key || '"')
                           AS val
                  FROM kv)
            SELECT key, count(*)::BIGINT AS n_present,
                   count(DISTINCT val)::BIGINT AS n_distinct,
                   round(avg(CASE WHEN regexp_matches(val, '^-?[0-9]+$')
                                  THEN 1.0 ELSE 0.0 END), 6) AS frac_int
            FROM v GROUP BY key
        """,
        # inter-arrival: exact micros lag, integer-div to seconds, then
        # the cum-rank percentile rule per type
        "interarrival_quantiles": """
            WITH g AS (
              SELECT event_type,
                     (epoch_us(ts) - lag(epoch_us(ts)) OVER (
                        PARTITION BY user_id, event_type
                        ORDER BY ts, event_id)) // 1000000 AS gap_s
              FROM events WHERE user_id IS NOT NULL
            ),
            gg AS (SELECT event_type AS k, gap_s AS v FROM g
                   WHERE gap_s IS NOT NULL),
            counts AS (SELECT k, v, count(*) AS cnt FROM gg GROUP BY 1, 2),
            cum AS (SELECT k, v,
                           sum(cnt) OVER (PARTITION BY k ORDER BY v) AS cum
                    FROM counts),
            tot AS (SELECT k, count(*) AS n FROM gg GROUP BY 1),
            ps AS (SELECT unnest([50, 90, 99]) AS pct)
            SELECT c.k AS event_type, p.pct, min(c.v) AS value
            FROM cum c JOIN tot t USING (k), ps p
            WHERE c.cum >= ceil(p.pct / 100.0 * t.n)
            GROUP BY 1, 2
        """,
        # bipartiteness: CC closure for components + capped-depth BFS
        # recursion (dist < 32 bound stops cycle blowup; min() reads the
        # true hop distance, exact while diameter < 32) + parity join
        "bipartite_components": f"""
            WITH RECURSIVE {E},
            r(vid, x) AS (
              SELECT vid, vid FROM deg
              UNION
              SELECT s.dst, r.x FROM sym s JOIN r ON r.vid = s.src
            ),
            comp AS (SELECT vid, min(x) AS comp FROM r GROUP BY vid),
            reps AS (SELECT DISTINCT comp AS vid FROM comp),
            d(vid, dist) AS (
              SELECT vid, 0 FROM reps
              UNION
              SELECT s.dst, d.dist + 1 FROM sym s
              JOIN d ON d.vid = s.src WHERE d.dist < 32
            ),
            par AS (SELECT vid, min(dist) % 2 AS par FROM d GROUP BY vid),
            conf AS (
              SELECT c.comp, count(*) AS n_conflicts
              FROM und e
              JOIN par a ON a.vid = e.src
              JOIN par b ON b.vid = e.dst
              JOIN comp c ON c.vid = e.src
              WHERE a.par = b.par
              GROUP BY 1
            )
            SELECT g.comp AS component, g.n_vertices,
                   coalesce(conf.n_conflicts, 0)::BIGINT AS n_conflicts,
                   coalesce(conf.n_conflicts, 0) = 0 AS is_bipartite
            FROM (SELECT comp, count(*)::BIGINT AS n_vertices
                  FROM comp GROUP BY 1) g
            LEFT JOIN conf ON conf.comp = g.comp
        """,
        # URL features: regexp twins of url_features (DuckDB needs the
        # explicit 'g' flag where Spark's regexp_replace is global)
        "url_features": f"""
            WITH {_MURLS.strip()},
            f AS (
              SELECT url,
                     regexp_replace(lower(regexp_extract(url,
                       '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)', 1)),
                       ':[0-9]+$', '') AS host,
                     len(list_filter(string_split(regexp_extract(url,
                       '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]+([^?#]*)', 1),
                       '/'), s -> s <> '')) AS path_depth,
                     length(url) AS url_len,
                     CASE WHEN regexp_extract(url, '\\?([^#]*)', 1) = ''
                          THEN 0
                          ELSE len(string_split(regexp_extract(url,
                                 '\\?([^#]*)', 1), '&')) END AS n_params,
                     round((length(url) - length(regexp_replace(url,
                       '[0-9]', '', 'g'))) / length(url)::DOUBLE, 6)
                       AS digit_ratio
              FROM murls
            )
            SELECT url, host, path_depth::BIGINT AS path_depth,
                   url_len::BIGINT AS url_len, n_params::BIGINT AS n_params,
                   digit_ratio,
                   round(0.5*digit_ratio
                         + 0.25*least(1.0, path_depth/8.0)
                         + 0.25*least(1.0, url_len/160.0), 6) AS spam_score
            FROM f
        """,
        # whitening: stats 6dp-ROUNDED before the quotient on both sides
        "whiten_embeddings": """
            WITH ex AS (
              SELECT vec_id, unnest(embedding::DOUBLE[]) AS v,
                     unnest(range(1, len(embedding) + 1)) AS dim
              FROM embeddings WHERE embedding IS NOT NULL
            ),
            st AS (SELECT dim, round(avg(v), 6) AS mu,
                          round(stddev_pop(v), 6) AS sd
                   FROM ex GROUP BY 1)
            SELECT e.vec_id, e.dim,
                   CASE WHEN st.sd = 0 THEN 0.0
                        ELSE round((e.v - st.mu)/st.sd, 6) END AS w
            FROM ex e JOIN st USING (dim)
        """,
        # stationary: 4 unrolled renormalized power steps over the tiny
        # |event types| state; rational masses -> nudge before round
        "stationary_distribution": """
            WITH seqs AS (
              SELECT event_type,
                     lead(event_type) OVER (PARTITION BY user_id
                       ORDER BY ts, event_id) AS to_type
              FROM events
            ),
            pairs AS (SELECT event_type AS from_type, to_type,
                             count(*) AS n
                      FROM seqs WHERE to_type IS NOT NULL GROUP BY 1, 2),
            tot AS (SELECT from_type, sum(n) AS t FROM pairs GROUP BY 1),
            probs AS (SELECT p.from_type, p.to_type, p.n/t.t AS p
                      FROM pairs p JOIN tot t USING (from_type)),
            states AS (SELECT DISTINCT s FROM (
              SELECT from_type AS s FROM probs
              UNION ALL SELECT to_type FROM probs)),
            t0 AS (SELECT s, 1.0/(SELECT count(*) FROM states) AS pi
                   FROM states),
            u1 AS (SELECT pr.to_type AS s, sum(t.pi * pr.p) AS m
                   FROM probs pr JOIN t0 t ON t.s = pr.from_type
                   GROUP BY 1),
            t1 AS (SELECT s, m/(SELECT sum(m) FROM u1) AS pi FROM u1),
            u2 AS (SELECT pr.to_type AS s, sum(t.pi * pr.p) AS m
                   FROM probs pr JOIN t1 t ON t.s = pr.from_type
                   GROUP BY 1),
            t2 AS (SELECT s, m/(SELECT sum(m) FROM u2) AS pi FROM u2),
            u3 AS (SELECT pr.to_type AS s, sum(t.pi * pr.p) AS m
                   FROM probs pr JOIN t2 t ON t.s = pr.from_type
                   GROUP BY 1),
            t3 AS (SELECT s, m/(SELECT sum(m) FROM u3) AS pi FROM u3),
            u4 AS (SELECT pr.to_type AS s, sum(t.pi * pr.p) AS m
                   FROM probs pr JOIN t3 t ON t.s = pr.from_type
                   GROUP BY 1),
            t4 AS (SELECT s, m/(SELECT sum(m) FROM u4) AS pi FROM u4)
            SELECT s AS event_type, round(pi + 1e-9, 6) AS pi FROM t4
        """,
        # label spreading: 2 clamped supersteps in sparse long format;
        # masses are rational 1/deg chains -> +1e-9 nudge before the 6dp
        # round on BOTH sides (salsa midpoint lore)
        "label_spreading": f"""
            WITH {E},
            seeds AS (SELECT doc_id AS vid, lang AS label FROM documents
                      WHERE doc_id % 5 = 0),
            m0 AS (SELECT vid, label, 1.0 AS mass FROM seeds),
            s1 AS (SELECT s.dst AS vid, m.label,
                          sum(m.mass/d.degree) AS mass
                   FROM sym s JOIN m0 m ON m.vid = s.src
                   JOIN deg d ON d.vid = s.src
                   GROUP BY 1, 2),
            m1 AS (SELECT vid, label, mass FROM s1
                   WHERE vid NOT IN (SELECT vid FROM seeds)
                   UNION ALL SELECT vid, label, 1.0 FROM seeds),
            s2 AS (SELECT s.dst AS vid, m.label,
                          sum(m.mass/d.degree) AS mass
                   FROM sym s JOIN m1 m ON m.vid = s.src
                   JOIN deg d ON d.vid = s.src
                   GROUP BY 1, 2),
            m2 AS (SELECT vid, label, mass FROM s2
                   WHERE vid NOT IN (SELECT vid FROM seeds)
                   UNION ALL SELECT vid, label, 1.0 FROM seeds)
            SELECT vid, label AS pred_label, score FROM (
              SELECT vid, label, round(mass + 1e-9, 6) AS score,
                     row_number() OVER (PARTITION BY vid
                       ORDER BY round(mass + 1e-9, 6) DESC, label) AS rn
              FROM m2) WHERE rn = 1
        """,
        # rank movers: dual 2-iter PR unrolls (the warm-start oracle's
        # old-graph chain + the standard full chain), ordered on the
        # ROUNDED |delta| with vid tie-break
        "rank_movers": f"""
            WITH {E},
            undo AS (SELECT src, dst FROM und WHERE (src + dst) % 25 <> 0),
            symo AS (SELECT src, dst FROM undo
                     UNION ALL SELECT dst, src FROM undo),
            dego AS (SELECT src AS vid, count(*) AS degree FROM symo
                     GROUP BY 1),
            nvo AS (SELECT count(*) AS n FROM dego),
            o0 AS (SELECT vid, 1.0/(SELECT n FROM nvo) AS rank, degree
                   FROM dego),
            o1 AS (SELECT s.dst AS vid,
                          0.15/(SELECT n FROM nvo)
                          + 0.85*sum(r.rank/r.degree) AS rank
                   FROM symo s JOIN o0 r ON s.src = r.vid GROUP BY 1),
            o1d AS (SELECT o1.vid, o1.rank, d.degree FROM o1
                    JOIN dego d USING (vid)),
            o2 AS (SELECT s.dst AS vid,
                          0.15/(SELECT n FROM nvo)
                          + 0.85*sum(r.rank/r.degree) AS rank
                   FROM symo s JOIN o1d r ON s.src = r.vid GROUP BY 1),
            nv AS (SELECT count(*) AS n FROM deg),
            p0 AS (SELECT vid, 1.0/(SELECT n FROM nv) AS rank, degree
                   FROM deg),
            p1 AS (SELECT s.dst AS vid,
                          0.15/(SELECT n FROM nv)
                          + 0.85*sum(r.rank/r.degree) AS rank
                   FROM sym s JOIN p0 r ON s.src = r.vid GROUP BY 1),
            p1d AS (SELECT p1.vid, p1.rank, d.degree FROM p1
                    JOIN deg d USING (vid)),
            p2 AS (SELECT s.dst AS vid,
                          0.15/(SELECT n FROM nv)
                          + 0.85*sum(r.rank/r.degree) AS rank
                   FROM sym s JOIN p1d r ON s.src = r.vid GROUP BY 1),
            j AS (SELECT p2.vid, p2.rank AS rn, o2.rank AS ro
                  FROM p2 LEFT JOIN o2 USING (vid))
            SELECT vid, round(rn, 6) AS rank_new,
                   round(coalesce(ro, 0), 6) AS rank_old,
                   round(abs(rn - coalesce(ro, 0)), 6) AS delta
            FROM j
            ORDER BY round(abs(rn - coalesce(ro, 0)), 6) DESC, vid
            LIMIT 20
        """,
        # CSN continuous MLE over the deg tail; ln() not log()
        "powerlaw_alpha": f"""
            WITH {E},
            tail AS (SELECT degree::DOUBLE AS d FROM deg WHERE degree >= 2),
            a AS (SELECT count(*) AS n, sum(ln(d / 1.5)) AS s FROM tail)
            SELECT round(1.0 + n / s, 6) AS alpha,
                   round((n / s) / sqrt(n), 6) AS sigma,
                   n::BIGINT AS n_tail, 2::BIGINT AS d_min
            FROM a
        """,
        # deterministic split: md5 uniform vs dyadic cumulative boundaries
        # (exact binary doubles on both engines)
        "dataset_split": """
            WITH s AS (
              SELECT CASE
                WHEN ('0x' || substr(md5('split:11:' || doc_id::VARCHAR),
                                     1, 12))::BIGINT
                     / 281474976710656.0 < 0.875 THEN 'train'
                WHEN ('0x' || substr(md5('split:11:' || doc_id::VARCHAR),
                                     1, 12))::BIGINT
                     / 281474976710656.0 < 0.9375 THEN 'val'
                ELSE 'test' END AS split,
                n_chars
              FROM documents
            )
            SELECT split, count(*)::BIGINT AS n_docs,
                   sum(n_chars)::BIGINT AS sum_chars
            FROM s GROUP BY split
        """,
        # rolling z-scores: trailing-window frame EXCLUDES the current
        # bucket; mu/sigma rounded BEFORE z (replayed verbatim);
        # stddev_samp == Spark stddev
        "event_anomalies": """
            WITH hc AS (
              SELECT date_trunc('hour', ts) AS ts_hour, event_type,
                     count(*) AS n
              FROM events GROUP BY 1, 2
            ),
            st AS (
              SELECT ts_hour, event_type, n,
                     count(*) OVER w AS hist,
                     round(avg(n) OVER w, 6) AS mu,
                     round(stddev_samp(n) OVER w, 6) AS sigma
              FROM hc
              WINDOW w AS (PARTITION BY event_type ORDER BY ts_hour
                           ROWS BETWEEN 12 PRECEDING AND 1 PRECEDING)
            )
            SELECT ts_hour, event_type, n, mu, sigma, z,
                   (abs(z) >= 3.0) AS is_anomaly
            FROM (
              SELECT *, CASE WHEN hist >= 4 AND sigma > 0
                             THEN round((n - mu) / sigma, 6) END AS z
              FROM st
            )
        """,
        # IR family (operators/textsearch.py): shared nonempty-token view
        "postings_stats": """
            WITH tp AS (
              SELECT doc_id,
                     unnest(list_filter(string_split(text, ' '),
                            x -> x <> '')) AS token
              FROM documents WHERE text IS NOT NULL
            )
            SELECT token, count(DISTINCT doc_id)::BIGINT AS df,
                   count(*)::BIGINT AS tf
            FROM tp GROUP BY token
        """,
        "phrase_search": """
            WITH t AS (
              SELECT doc_id,
                     list_filter(string_split(text, ' '), x -> x <> '')
                       AS toks
              FROM documents WHERE text IS NOT NULL
            )
            SELECT doc_id, count(*)::BIGINT AS n_matches
            FROM t, unnest(generate_series(1, len(toks) - 1)) AS u(i)
            WHERE toks[i] = 'table' AND toks[i+1] = 'scan'
            GROUP BY doc_id
        """,
        # BM25 with the Lucene +1 idf floor; ln(); rank on the ROUNDED
        # score with doc_id tiebreak (replayable-cut rule)
        "bm25_search": """
            WITH tp AS (
              SELECT doc_id,
                     unnest(list_filter(string_split(text, ' '),
                            x -> x <> '')) AS token
              FROM documents WHERE text IS NOT NULL
            ),
            dl AS (SELECT doc_id, count(*) AS dl FROM tp GROUP BY doc_id),
            st AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl),
            qt AS (SELECT * FROM tp
                   WHERE token IN ('spark', 'query', 'fast')),
            tf AS (SELECT doc_id, token, count(*) AS tf FROM qt
                   GROUP BY doc_id, token),
            dfr AS (SELECT token, count(DISTINCT doc_id) AS df FROM qt
                    GROUP BY token),
            sc AS (
              SELECT t.doc_id,
                     round(sum(
                       ln(1.0 + (st.n_docs - d.df + 0.5) / (d.df + 0.5))
                       * (t.tf * 2.2)
                       / (t.tf + 1.2 * (0.25 + 0.75 * l.dl / st.avgdl))
                     ), 6) AS score
              FROM tf t
              JOIN dfr d USING (token)
              JOIN dl l USING (doc_id)
              CROSS JOIN st
              GROUP BY t.doc_id
            )
            SELECT doc_id, score, rank FROM (
              SELECT doc_id, score,
                     row_number() OVER (ORDER BY score DESC, doc_id ASC)
                       AS rank
              FROM sc
            ) WHERE rank <= 20
        """,
        "tpch_q4": """
            SELECT o_orderpriority, count(*)::BIGINT AS order_count
            FROM orders o
            WHERE o_orderdate >= TIMESTAMP '1996-07-01'
              AND o_orderdate <  TIMESTAMP '1996-10-01'
              AND EXISTS (SELECT 1 FROM lineitem l
                          WHERE l.l_orderkey = o.o_orderkey
                            AND l.l_shipdate > o.o_orderdate)
            GROUP BY 1
        """,
        "tpch_q6": """
            SELECT round(sum(l_extendedprice * l_discount), 4) AS revenue
            FROM lineitem
            WHERE l_shipdate >= TIMESTAMP '1997-01-01'
              AND l_shipdate <  TIMESTAMP '1998-01-01'
              AND l_discount >= 0.05 AND l_discount <= 0.07
              AND l_quantity < 24
        """,
        # exact linear-interpolation quantiles: Spark percentile() and
        # DuckDB quantile_cont are both R type-7
        "length_quantiles": """
            SELECT lang, count(*)::BIGINT AS n_docs,
                   round(quantile_cont(n_chars, 0.25), 6) AS p25,
                   round(quantile_cont(n_chars, 0.50), 6) AS p50,
                   round(quantile_cont(n_chars, 0.75), 6) AS p75,
                   round(quantile_cont(n_chars, 0.95), 6) AS p95
            FROM documents GROUP BY lang
        """,
        "maximal_matching": _matching_sql(_oracle_rounds(10)),
        "rich_club": f"""
            WITH {E},
            ks AS (SELECT DISTINCT degree AS k FROM deg),
            em AS (
              SELECT least(da.degree, db.degree) AS min_deg
              FROM und e
              JOIN deg da ON da.vid = e.src
              JOIN deg db ON db.vid = e.dst
            ),
            er AS (SELECT k, count(*) AS e_rich FROM em
                   JOIN ks ON min_deg > k GROUP BY k),
            nr AS (SELECT k, count(*) AS n_rich FROM deg
                   JOIN ks ON degree > k GROUP BY k)
            SELECT ks.k,
                   coalesce(n.n_rich, 0)::BIGINT AS n_rich,
                   coalesce(e.e_rich, 0)::BIGINT AS e_rich,
                   CASE WHEN coalesce(n.n_rich, 0) >= 2
                        THEN round(2.0 * coalesce(e.e_rich, 0)
                                   / (n.n_rich * (n.n_rich - 1)), 6)
                   END AS phi
            FROM ks LEFT JOIN nr n USING (k) LEFT JOIN er e USING (k)
        """,
        # Zipf: the same CSN estimator over token frequencies
        "zipf_alpha": """
            WITH tf AS (
              SELECT tok, count(*) AS f FROM (
                SELECT unnest(list_filter(string_split(text, ' '),
                              x -> x <> '')) AS tok
                FROM documents WHERE text IS NOT NULL
              ) GROUP BY tok
            ),
            tail AS (SELECT f::DOUBLE AS d FROM tf WHERE f >= 2),
            a AS (SELECT count(*) AS n, sum(ln(d / 1.5)) AS s FROM tail)
            SELECT round(1.0 + n / s, 6) AS alpha,
                   round((n / s) / sqrt(n), 6) AS sigma,
                   n::BIGINT AS n_tail, 2::BIGINT AS d_min
            FROM a
        """,
        # Bellman-Ford: synchronous full relaxation, min-folded per
        # round - frontier vs full-table forms converge to the same
        # fixpoint within the shared 16-round bound
        "sssp_weighted": f"""
            WITH {E}, {DOC_DIRECTED_SQL.strip()},
            ew AS MATERIALIZED (SELECT src, dst, (src + dst) % 7 + 1 AS w FROM dlinks),
            d0 AS MATERIALIZED (SELECT doc_id AS vid, 0.0 AS dist FROM documents WHERE doc_id % 97 = 0),
            d1 AS MATERIALIZED (SELECT vid, min(dist) AS dist FROM (SELECT vid, dist FROM d0 UNION ALL SELECT e.dst AS vid, d.dist + e.w AS dist FROM ew e JOIN d0 d ON d.vid = e.src) GROUP BY vid),
            d2 AS MATERIALIZED (SELECT vid, min(dist) AS dist FROM (SELECT vid, dist FROM d1 UNION ALL SELECT e.dst AS vid, d.dist + e.w AS dist FROM ew e JOIN d1 d ON d.vid = e.src) GROUP BY vid),
            d3 AS MATERIALIZED (SELECT vid, min(dist) AS dist FROM (SELECT vid, dist FROM d2 UNION ALL SELECT e.dst AS vid, d.dist + e.w AS dist FROM ew e JOIN d2 d ON d.vid = e.src) GROUP BY vid),
            d4 AS MATERIALIZED (SELECT vid, min(dist) AS dist FROM (SELECT vid, dist FROM d3 UNION ALL SELECT e.dst AS vid, d.dist + e.w AS dist FROM ew e JOIN d3 d ON d.vid = e.src) GROUP BY vid),
            d5 AS MATERIALIZED (SELECT vid, min(dist) AS dist FROM (SELECT vid, dist FROM d4 UNION ALL SELECT e.dst AS vid, d.dist + e.w AS dist FROM ew e JOIN d4 d ON d.vid = e.src) GROUP BY vid),
            d6 AS MATERIALIZED (SELECT vid, min(dist) AS dist FROM (SELECT vid, dist FROM d5 UNION ALL SELECT e.dst AS vid, d.dist + e.w AS dist FROM ew e JOIN d5 d ON d.vid = e.src) GROUP BY vid),
            d7 AS MATERIALIZED (SELECT vid, min(dist) AS dist FROM (SELECT vid, dist FROM d6 UNION ALL SELECT e.dst AS vid, d.dist + e.w AS dist FROM ew e JOIN d6 d ON d.vid = e.src) GROUP BY vid),
            d8 AS MATERIALIZED (SELECT vid, min(dist) AS dist FROM (SELECT vid, dist FROM d7 UNION ALL SELECT e.dst AS vid, d.dist + e.w AS dist FROM ew e JOIN d7 d ON d.vid = e.src) GROUP BY vid),
            d9 AS MATERIALIZED (SELECT vid, min(dist) AS dist FROM (SELECT vid, dist FROM d8 UNION ALL SELECT e.dst AS vid, d.dist + e.w AS dist FROM ew e JOIN d8 d ON d.vid = e.src) GROUP BY vid),
            d10 AS MATERIALIZED (SELECT vid, min(dist) AS dist FROM (SELECT vid, dist FROM d9 UNION ALL SELECT e.dst AS vid, d.dist + e.w AS dist FROM ew e JOIN d9 d ON d.vid = e.src) GROUP BY vid),
            d11 AS MATERIALIZED (SELECT vid, min(dist) AS dist FROM (SELECT vid, dist FROM d10 UNION ALL SELECT e.dst AS vid, d.dist + e.w AS dist FROM ew e JOIN d10 d ON d.vid = e.src) GROUP BY vid),
            d12 AS MATERIALIZED (SELECT vid, min(dist) AS dist FROM (SELECT vid, dist FROM d11 UNION ALL SELECT e.dst AS vid, d.dist + e.w AS dist FROM ew e JOIN d11 d ON d.vid = e.src) GROUP BY vid),
            d13 AS MATERIALIZED (SELECT vid, min(dist) AS dist FROM (SELECT vid, dist FROM d12 UNION ALL SELECT e.dst AS vid, d.dist + e.w AS dist FROM ew e JOIN d12 d ON d.vid = e.src) GROUP BY vid),
            d14 AS MATERIALIZED (SELECT vid, min(dist) AS dist FROM (SELECT vid, dist FROM d13 UNION ALL SELECT e.dst AS vid, d.dist + e.w AS dist FROM ew e JOIN d13 d ON d.vid = e.src) GROUP BY vid),
            d15 AS MATERIALIZED (SELECT vid, min(dist) AS dist FROM (SELECT vid, dist FROM d14 UNION ALL SELECT e.dst AS vid, d.dist + e.w AS dist FROM ew e JOIN d14 d ON d.vid = e.src) GROUP BY vid),
            d16 AS MATERIALIZED (SELECT vid, min(dist) AS dist FROM (SELECT vid, dist FROM d15 UNION ALL SELECT e.dst AS vid, d.dist + e.w AS dist FROM ew e JOIN d15 d ON d.vid = e.src) GROUP BY vid)
            SELECT vid, dist FROM d16
        """,
        # pointer doubling: r{i+1}(v) = r{i}(r{i}(v)) where defined —
        # mirrors operators/redirects.py; resolved ⇔ final not a src
        "resolve_redirects": f"""
            WITH nd AS (SELECT count(*) AS c FROM documents),
            r0 AS MATERIALIZED (
              SELECT doc_id AS src,
                     (13 * doc_id + 7) % (SELECT c FROM nd) AS cur
              FROM documents
              WHERE doc_id % 3 = 1
                AND doc_id <> (13 * doc_id + 7) % (SELECT c FROM nd)),
            {', '.join(
                f'r{i + 1} AS MATERIALIZED (SELECT a.src,'
                f' coalesce(b.cur, a.cur) AS cur'
                f' FROM r{i} a LEFT JOIN r{i} b ON b.src = a.cur)'
                for i in range(8)
            )}
            SELECT src, cur AS final,
                   cur NOT IN (SELECT src FROM r0) AS resolved
            FROM r8
        """,
        # batch PPR: the ppr_iter2 unroll with a set_id dimension — the
        # sym graph has no dangling vertices (every vertex has degree ≥ 1),
        # so the per-set dangling term is identically 0 on both engines
        "multi_ppr_iter2": f"""
            WITH {E},
            ms AS (SELECT vid % 50 AS set_id, vid FROM deg WHERE vid % 50 <= 2),
            cnt AS (SELECT set_id, count(*) AS ns FROM ms GROUP BY set_id),
            ev AS MATERIALIZED (
              SELECT c.set_id, d.vid,
                     CASE WHEN s.vid IS NOT NULL THEN 1.0/c.ns ELSE 0.0 END AS e,
                     d.degree
              FROM deg d CROSS JOIN cnt c
              LEFT JOIN ms s ON s.set_id = c.set_id AND s.vid = d.vid),
            mr1 AS MATERIALIZED (
              SELECT x.set_id, x.vid,
                     0.15*x.e + 0.85*coalesce(m.s, 0) AS rank, x.degree, x.e
              FROM ev x LEFT JOIN (
                SELECT r.set_id, s.dst AS vid, sum(r.e/r.degree) AS s
                FROM sym s JOIN ev r ON s.src = r.vid GROUP BY r.set_id, s.dst
              ) m ON m.set_id = x.set_id AND m.vid = x.vid
            )
            SELECT x.set_id, x.e_vid AS vid,
                   round(0.15*x.e + 0.85*coalesce(m.s, 0), 6) AS rank
            FROM (SELECT set_id, vid AS e_vid, e FROM ev) x LEFT JOIN (
              SELECT r.set_id, s.dst AS vid, sum(r.rank/r.degree) AS s
              FROM sym s JOIN mr1 r ON s.src = r.vid GROUP BY r.set_id, s.dst
            ) m ON m.set_id = x.set_id AND m.vid = x.e_vid
        """,
        # ACL sweep cut: the ppr_iter2 unroll (seed {{0}}), scores rounded
        # to 6dp BEFORE the window ordering (rank-on-the-rounded-key), then
        # prefix conductance via cumulative windows; an edge becomes
        # internal at k = greatest(pos_src, pos_dst)
        "local_cluster": f"""
            WITH {E},
            e AS (SELECT vid,
                         CASE WHEN vid = 0 THEN 1.0 ELSE 0.0 END AS e,
                         degree
                  FROM deg),
            r1 AS (
              SELECT x.vid, 0.15*x.e + 0.85*coalesce(m.s, 0) AS rank,
                     x.degree, x.e
              FROM e x LEFT JOIN (
                SELECT s.dst AS vid, sum(r.e/r.degree) AS s
                FROM sym s JOIN e r ON s.src = r.vid GROUP BY s.dst
              ) m ON m.vid = x.vid
            ),
            r2 AS (
              SELECT x.vid, 0.15*x.e + 0.85*coalesce(m.s, 0) AS rank,
                     x.degree
              FROM r1 x LEFT JOIN (
                SELECT s.dst AS vid, sum(r.rank/r.degree) AS s
                FROM sym s JOIN r1 r ON s.src = r.vid GROUP BY s.dst
              ) m ON m.vid = x.vid
            ),
            topk AS (
              SELECT vid, round(rank/degree, 6) AS score, degree,
                     row_number()
                       OVER (ORDER BY round(rank/degree, 6) DESC, vid) AS k
              FROM r2
              QUALIFY k <= 64
            ),
            ie AS (
              SELECT greatest(p1.k, p2.k) AS k, count(*) AS c
              FROM und e2 JOIN topk p1 ON p1.vid = e2.src
                          JOIN topk p2 ON p2.vid = e2.dst
              GROUP BY 1
            ),
            sw AS (
              SELECT t.k, t.vid, t.score,
                     sum(t.degree) OVER (ORDER BY t.k) AS volk,
                     sum(coalesce(ie.c, 0)) OVER (ORDER BY t.k) AS intk
              FROM topk t LEFT JOIN ie ON ie.k = t.k
            ),
            tot AS (SELECT sum(degree) AS vol FROM deg)
            SELECT k, vid, score,
                   CASE WHEN least(volk, vol - volk) > 0
                        THEN round((volk - 2*intk)
                                   / least(volk, vol - volk), 6)
                   END AS conductance
            FROM sw, tot
        """,
        "ppr_iter2": f"""
            WITH {E},
            e AS (SELECT vid,
                         CASE WHEN vid IN (0,1,2) THEN 1.0/3 ELSE 0.0 END AS e,
                         degree
                  FROM deg),
            r1 AS (
              SELECT x.vid, 0.15*x.e + 0.85*coalesce(m.s, 0) AS rank, x.degree, x.e
              FROM e x LEFT JOIN (
                SELECT s.dst AS vid, sum(r.e/r.degree) AS s
                FROM sym s JOIN e r ON s.src = r.vid GROUP BY s.dst
              ) m ON m.vid = x.vid
            )
            SELECT x.e_vid AS vid,
                   round(0.15*x.e + 0.85*coalesce(m.s, 0) + 1e-9, 6) AS rank
            FROM (SELECT vid AS e_vid, e FROM e) x LEFT JOIN (
              SELECT s.dst AS vid, sum(r.rank/r.degree) AS s
              FROM sym s JOIN r1 r ON s.src = r.vid GROUP BY s.dst
            ) m ON m.vid = x.e_vid
        """,
        "event_sessions": """
            WITH m AS (
              SELECT user_id, ts, value,
                     lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev_ts
              FROM events
            ),
            s AS (
              SELECT user_id, ts, value,
                     sum(CASE WHEN prev_ts IS NULL
                              OR epoch_us(ts) - epoch_us(prev_ts) >= 1800000000
                              THEN 1 ELSE 0 END)
                       OVER (PARTITION BY user_id ORDER BY ts
                             ROWS UNBOUNDED PRECEDING) AS sid
              FROM m
            )
            SELECT user_id, min(ts) AS session_start, max(ts) AS session_end,
                   count(*) AS n_events, round(sum(value), 4) AS sum_value
            FROM s GROUP BY user_id, sid
        """,
        "lp_iter2": f"""
            WITH {E},
            l1 AS (SELECT s.dst AS vid, min(s.src) AS label FROM sym s GROUP BY s.dst),
            freq2 AS (
              SELECT s.dst AS vid, l.label, count(*) AS n
              FROM sym s JOIN l1 l ON l.vid = s.src GROUP BY s.dst, l.label
            )
            SELECT vid, label FROM (
              SELECT vid, label,
                     row_number() OVER (PARTITION BY vid ORDER BY n DESC, label ASC) AS rn
              FROM freq2
            ) WHERE rn = 1
        """,
        "top_hubs": f"""
            WITH {E}
            SELECT vid, degree FROM (
              SELECT vid, degree,
                     row_number() OVER (ORDER BY degree DESC, vid ASC) AS rn
              FROM deg
            ) WHERE rn <= 20
        """,
        "dedup_exact_groups": """
            SELECT md5(text) AS text_hash, count(*) AS n_dups, min(doc_id) AS min_doc_id
            FROM documents GROUP BY md5(text) HAVING count(*) > 1
        """,
        "token_counts": """
            SELECT doc_id, len(string_split(text, ' ')) AS n_tokens FROM documents
        """,
        "quality_scores": f"""
            WITH {_TOKS},
            st AS (
              SELECT doc_id, len(t) AS n_tokens,
                     len(list_filter(t, x -> x IN ('the','and','of','to','a'))) AS n_stop,
                     length(text) - length(replace(text, '.', '')) AS n_punct
              FROM toks
            )
            SELECT doc_id, n_tokens, n_stop, n_punct,
                   round(least(1.0, n_tokens/50.0)
                         * (0.5 + 0.5*n_stop/greatest(n_tokens, 1)), 4) AS score
            FROM st
        """,
        "lang_id": f"""
            WITH {_TOKS},
            hits AS (
              SELECT doc_id, lang, hits FROM (
                SELECT doc_id,
                       unnest(['de','en','es','fr']) AS lang,
                       unnest([
                         len(list_filter(t, x -> x = 'der')),
                         len(list_filter(t, x -> x = 'the')),
                         len(list_filter(t, x -> x = 'el')),
                         len(list_filter(t, x -> x = 'le'))
                       ]) AS hits
                FROM toks
              )
            )
            SELECT doc_id, lang AS pred_lang FROM (
              SELECT doc_id, lang,
                     row_number() OVER (PARTITION BY doc_id ORDER BY hits DESC, lang ASC) AS rn
              FROM hits
            ) WHERE rn = 1
        """,
        "fingerprints": f"""
            WITH {_TOKS}
            SELECT doc_id,
                   CASE WHEN len(t) < 5 THEN md5(text)
                        ELSE (
                          SELECT min(md5(array_to_string(list_slice(t, i, i+4), ' ')))
                          FROM unnest(generate_series(1, len(t)-4)) AS u(i)
                        )
                   END AS fingerprint
            FROM toks
        """,
        "minhash_signatures": f"""
            WITH {_TOKS}, {_GRAMS}
            SELECT doc_id,
                   {', '.join(f"{_mh_sql(i)} AS mh{i}" for i in range(8))}
            FROM grams
        """,
        # CAP ASSUMPTION (ADVICE r4): this oracle (and simhash_candidates /
        # embedding_neardup below) is UNGUARDED while the Spark side runs
        # with the default max_bucket=100k — parity holds only while every
        # band cell stays below the cap (true at sf0.01/sf0.1 by orders of
        # magnitude). A larger-SF sweep that trips the cap diffs by design.
        "minhash_lsh_pairs": f"""
            WITH {_TOKS}, {_GRAMS}, {_lsh_cand_sql()}
            SELECT a, b FROM cand
        """,
        "stream_neardup_batch": f"""
            WITH {_TOKS}, {_GRAMS},
            sig AS MATERIALIZED (
              SELECT doc_id, {", ".join(_lsh_band_sql(b) for b in range(4))}
              FROM grams
            )
            SELECT DISTINCT a, b, band_idx FROM (
              {" UNION ALL ".join(
                  f"SELECT x.doc_id AS a, y.doc_id AS b, CAST({b} AS INTEGER) AS band_idx"
                  f" FROM sig x JOIN sig y ON x.band{b} = y.band{b}"
                  f" AND x.doc_id < y.doc_id"
                  f" AND abs((x.doc_id % 120) - (y.doc_id % 120)) <= 600"
                  for b in range(4)
              )}
            )
        """,
        "ngram_containment": f"""
            WITH {_TOKS}, {_GRAMS}, {_lsh_cand_sql()}
            SELECT c.a, c.b,
                   round(CAST(len(list_intersect(x.g, y.g)) AS DOUBLE)
                         / greatest(len(x.g), 1), 4) AS containment_a,
                   round(CAST(len(list_intersect(x.g, y.g)) AS DOUBLE)
                         / greatest(len(y.g), 1), 4) AS containment_b
            FROM cand c JOIN grams x ON x.doc_id = c.a JOIN grams y ON y.doc_id = c.b
        """,
        "ngram_jaccard": f"""
            WITH {_TOKS}, {_GRAMS}, {_lsh_cand_sql()}
            SELECT c.a, c.b,
                   round(CAST(len(list_intersect(x.g, y.g)) AS DOUBLE)
                         / len(list_distinct(x.g || y.g)), 4) AS jaccard
            FROM cand c JOIN grams x ON x.doc_id = c.a JOIN grams y ON y.doc_id = c.b
        """,
        "simhash_groups": f"""
            WITH {_TOKS}, {_GRAMS},
            sig AS MATERIALIZED (
              SELECT doc_id, concat(
                {','.join(_simhash_bit_sql(p) for p in range(8))}
              ) AS sig FROM grams
            )
            SELECT sig, count(*) AS n_docs, min(doc_id) AS min_doc_id
            FROM sig GROUP BY sig HAVING count(*) > 1
        """,
        "simhash_candidates": f"""
            WITH {_TOKS}, {_GRAMS},
            sig AS MATERIALIZED (
              SELECT doc_id, concat(
                {','.join(_simhash_bit_sql(p) for p in range(32))}
              ) AS sig FROM grams
            )
            SELECT DISTINCT a, b FROM (
              {" UNION ALL ".join(
                  f"SELECT x.doc_id AS a, y.doc_id AS b FROM sig x JOIN sig y"
                  f" ON substr(x.sig, {band * 8 + 1}, 8) = substr(y.sig, {band * 8 + 1}, 8)"
                  for band in range(4)
              )}
            ) WHERE a < b
        """,
        "neardup_groups": f"""
            WITH RECURSIVE {_TOKS}, {_GRAMS}, {_lsh_cand_sql()},
            jac AS MATERIALIZED (
              SELECT c.a, c.b
              FROM cand c JOIN grams x ON x.doc_id = c.a JOIN grams y ON y.doc_id = c.b
              WHERE round(CAST(len(list_intersect(x.g, y.g)) AS DOUBLE)
                          / len(list_distinct(x.g || y.g)), 4) >= 0.8
            ),
            sp AS MATERIALIZED (
              SELECT a AS src, b AS dst FROM jac UNION ALL SELECT b, a FROM jac
            ),
            r(vid, x) AS (
              SELECT src, src FROM sp
              UNION
              SELECT s.dst, r.x FROM sp s JOIN r ON r.vid = s.src
            )
            SELECT vid AS doc_id, min(x) AS rep_id FROM r GROUP BY vid
        """,
        "dedup_exact_kept": """
            SELECT d.doc_id, d.text, d.lang, d.source, d.n_chars
            FROM documents d
            JOIN (SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)) k
            USING (doc_id)
        """,
        "weighted_pagerank_iter2": f"""
            WITH {E},
            nv AS (SELECT count(*) AS n FROM deg),
            we AS MATERIALIZED (
              SELECT src, dst, CAST(1 + (src*7 + dst*13) % 5 AS DOUBLE) AS w FROM sym
            ),
            wt AS MATERIALIZED (SELECT src AS vid, sum(w) AS wt FROM we GROUP BY src),
            r0 AS (SELECT vid, 1.0/(SELECT n FROM nv) AS rank FROM deg),
            m1 AS (
              SELECT e.dst AS vid, sum(e.w * (r.rank / t.wt)) AS s
              FROM we e JOIN r0 r ON e.src = r.vid JOIN wt t ON t.vid = e.src
              GROUP BY e.dst
            ),
            r1 AS (
              SELECT d.vid, 0.15/(SELECT n FROM nv) + 0.85*coalesce(m1.s, 0) AS rank
              FROM deg d LEFT JOIN m1 ON m1.vid = d.vid
            ),
            m2 AS (
              SELECT e.dst AS vid, sum(e.w * (r.rank / t.wt)) AS s
              FROM we e JOIN r1 r ON e.src = r.vid JOIN wt t ON t.vid = e.src
              GROUP BY e.dst
            )
            SELECT d.vid,
                   round(0.15/(SELECT n FROM nv) + 0.85*coalesce(m2.s, 0), 6) AS rank
            FROM deg d LEFT JOIN m2 ON m2.vid = d.vid
        """,
        "ann_topk": """
            WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
                       FROM embeddings WHERE vec_id < 3),
            c AS (SELECT vec_id, embedding::DOUBLE[] AS cv FROM embeddings),
            scored AS (
              SELECT q.query_id, c.vec_id,
                     round(list_cosine_similarity(q.qv, c.cv), 6) AS cos
              FROM c, q WHERE c.vec_id <> q.query_id
            )
            SELECT query_id, vec_id, cos, rank FROM (
              SELECT *, row_number() OVER (
                PARTITION BY query_id ORDER BY cos DESC, vec_id ASC) AS rank
              FROM scored
            ) WHERE rank <= 5
        """,
        "embedding_neardup": f"""
            WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
            sig AS MATERIALIZED (
              SELECT vec_id, {_hyperplane_sig_sql("v", n_planes=32)} AS s FROM e
            ),
            cand AS (
              SELECT DISTINCT a, b FROM (
                {" UNION ALL ".join(
                    f"SELECT x.vec_id AS a, y.vec_id AS b FROM sig x JOIN sig y"
                    f" ON substr(x.s, {band * 8 + 1}, 8) = substr(y.s, {band * 8 + 1}, 8)"
                    f" AND x.vec_id < y.vec_id"
                    for band in range(4)
                )}
              )
            )
            SELECT c.a, c.b, round(list_cosine_similarity(x.v, y.v), 6) AS cos
            FROM cand c JOIN e x ON x.vec_id = c.a JOIN e y ON y.vec_id = c.b
            WHERE round(list_cosine_similarity(x.v, y.v), 6) > 0.4
        """,
        "embedding_neardup_exact": """
            WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
            SELECT x.vec_id AS a, y.vec_id AS b,
                   round(list_cosine_similarity(x.v, y.v), 6) AS cos
            FROM e x JOIN e y ON x.vec_id < y.vec_id
            WHERE round(list_cosine_similarity(x.v, y.v), 6) > 0.4
        """,
        "ann_lsh_topk": f"""
            WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
            sig AS MATERIALIZED (
              SELECT vec_id, v, {_hyperplane_sig_sql("v")} AS bucket FROM e
            ),
            q AS (SELECT vec_id AS query_id, v AS qv, bucket FROM sig WHERE vec_id < 3),
            scored AS (
              SELECT q.query_id, s.vec_id,
                     round(list_cosine_similarity(q.qv, s.v), 6) AS cos
              FROM sig s JOIN q ON s.bucket = q.bucket AND s.vec_id <> q.query_id
            )
            SELECT query_id, vec_id, cos, rank FROM (
              SELECT *, row_number() OVER (
                PARTITION BY query_id ORDER BY cos DESC, vec_id ASC) AS rank
              FROM scored
            ) WHERE rank <= 5
        """,
        "events_hourly": """
            SELECT date_trunc('hour', ts) AS hour, event_type,
                   count(*) AS n, round(sum(value), 4) AS sum_value
            FROM events GROUP BY 1, 2
        """,
        # full IVF replay: md5-ordered centroid sample, cosine assignment,
        # one Lloyd step, 4-probe, exact rank within probed cells — mirrors
        # similarity.ann_ivf_topk(k=5, n_centroids=16, n_probe=4, refine=1)
        # add-k bigram LM: model counts from the corpus's own nonempty-token
        # bigrams, smoothed nll per occurrence, per-doc avg + exp — mirrors
        # operators/lm_score.py (ln/exp rounded 6dp)
        "lm_perplexity": """
            WITH ft AS (SELECT doc_id,
                               list_filter(string_split(text, ' '),
                                           x -> x <> '') AS t
                        FROM documents),
            bg AS (SELECT doc_id, t[i] AS v, t[i+1] AS w
                   FROM ft, unnest(generate_series(1, len(t)-1)) AS u(i)
                   WHERE len(t) >= 2),
            cvw AS (SELECT v, w, count(*) AS cvw FROM bg GROUP BY v, w),
            cvt AS (SELECT v, count(*) AS cv FROM bg GROUP BY v),
            vs AS (SELECT count(DISTINCT x) AS vsz
                   FROM (SELECT unnest(t) AS x FROM ft)),
            sc AS (SELECT b.doc_id,
                          -ln((coalesce(c.cvw, 0) + 0.5)
                              / (coalesce(x.cv, 0)
                                 + 0.5 * (SELECT vsz FROM vs))) AS nll
                   FROM bg b LEFT JOIN cvw c USING (v, w)
                             LEFT JOIN cvt x USING (v))
            SELECT doc_id, count(*)::BIGINT AS n_bigrams,
                   round(avg(nll), 6) AS avg_nll,
                   round(exp(avg(nll)), 6) AS ppl
            FROM sc GROUP BY doc_id
        """,
        # PMI collocations over the same bigram pass as lm_perplexity;
        # rank on the ROUNDED pmi, (v, w) tie-break, min_count 5
        "collocations": """
            WITH ft AS (SELECT doc_id,
                               list_filter(string_split(text, ' '),
                                           x -> x <> '') AS t
                        FROM documents),
            bg AS (SELECT t[i] AS v, t[i+1] AS w
                   FROM ft, unnest(generate_series(1, len(t)-1)) AS u(i)
                   WHERE len(t) >= 2),
            cvw AS (SELECT v, w, count(*) AS n_vw FROM bg GROUP BY v, w
                    HAVING count(*) >= 5),
            c1 AS (SELECT x AS t, count(*) AS n_t
                   FROM (SELECT unnest(t) AS x FROM ft) GROUP BY x),
            bt AS (SELECT count(*) AS b FROM bg),
            tt AS (SELECT sum(n_t)::DOUBLE AS n FROM c1),
            scored AS (
              SELECT p.v, p.w, p.n_vw,
                     round(ln((p.n_vw / (SELECT b FROM bt))
                              / ((a.n_t / (SELECT n FROM tt))
                                 * (c.n_t / (SELECT n FROM tt)))), 6) AS pmi
              FROM cvw p JOIN c1 a ON a.t = p.v JOIN c1 c ON c.t = p.w)
            SELECT v, w, n_vw, pmi, rank FROM (
              SELECT *, row_number() OVER (
                ORDER BY pmi DESC, v ASC, w ASC) AS rank
              FROM scored
            ) WHERE rank <= 20
        """,
        # Gopher quality gate: nonempty-token stats (expression-level) +
        # the repetition_metrics gram chains; rules on the ROUNDED signals
        # exactly as operators/quality_filter.py applies them
        "gopher_filter": f"""
            WITH {_TOKS},
            ft AS (SELECT doc_id,
                          list_filter(t, x -> x <> '') AS ftoks
                   FROM toks),
            st AS (SELECT doc_id,
                          len(ftoks) AS n_tokens,
                          round(coalesce(list_sum(list_transform(ftoks,
                                  x -> length(x))), 0)::DOUBLE
                                / greatest(len(ftoks), 1), 6)
                            AS mean_word_len,
                          (CASE WHEN list_contains(ftoks, 'the') THEN 1 ELSE 0 END
                           + CASE WHEN list_contains(ftoks, 'and') THEN 1 ELSE 0 END
                           + CASE WHEN list_contains(ftoks, 'of') THEN 1 ELSE 0 END
                           + CASE WHEN list_contains(ftoks, 'to') THEN 1 ELSE 0 END
                           + CASE WHEN list_contains(ftoks, 'a') THEN 1 ELSE 0 END)
                            AS stop_hits
                   FROM ft),
            pg2 AS (
              SELECT doc_id, array_to_string(list_slice(t, i, i+1), ' ') AS g
              FROM toks, unnest(generate_series(1, len(t)-1)) AS u(i)
              WHERE len(t) >= 2
            ),
            c2 AS (SELECT doc_id, g, count(*) AS c FROM pg2 GROUP BY doc_id, g),
            t2 AS (SELECT doc_id, c*length(g) AS mass,
                          row_number() OVER (PARTITION BY doc_id
                                             ORDER BY c DESC, g ASC) AS rn
                   FROM c2),
            tm AS (SELECT doc_id, mass FROM t2 WHERE rn = 1),
            pg3 AS (
              SELECT doc_id, array_to_string(list_slice(t, i, i+2), ' ') AS g
              FROM toks, unnest(generate_series(1, len(t)-2)) AS u(i)
              WHERE len(t) >= 3
            ),
            c3 AS (SELECT doc_id, g, count(*) AS c FROM pg3 GROUP BY doc_id, g),
            dm AS (SELECT doc_id, sum(c*length(g)) AS mass FROM c3
                   WHERE c >= 2 GROUP BY doc_id),
            sig AS (
              SELECT s.doc_id, s.n_tokens, s.mean_word_len, s.stop_hits,
                     round(coalesce(tm.mass, 0)
                           / greatest(length(d.text), 1), 6) AS top2_frac,
                     round(least(1.0, coalesce(dm.mass, 0)
                                      / greatest(length(d.text), 1)), 6)
                       AS dup3_frac
              FROM st s JOIN documents d USING (doc_id)
                        LEFT JOIN tm USING (doc_id)
                        LEFT JOIN dm USING (doc_id))
            SELECT doc_id, n_tokens, mean_word_len, stop_hits,
                   top2_frac, dup3_frac,
                   ((n_tokens < 30)::INT + (n_tokens > 100000)::INT
                    + (mean_word_len < 2.0 OR mean_word_len > 12.0)::INT
                    + (stop_hits < 2)::INT + (top2_frac > 0.12)::INT
                    + (dup3_frac > 0.6)::INT) AS n_failed,
                   ((n_tokens < 30)::INT + (n_tokens > 100000)::INT
                    + (mean_word_len < 2.0 OR mean_word_len > 12.0)::INT
                    + (stop_hits < 2)::INT + (top2_frac > 0.12)::INT
                    + (dup3_frac > 0.6)::INT) = 0 AS keep
            FROM sig
        """,
        # TF-IDF: whitespace tokens, smoothed sklearn idf, rank on the
        # ROUNDED score (ln portability), token tie-break
        "tfidf_terms": """
            WITH toks AS (SELECT doc_id, unnest(string_split(text, ' '))
                          AS token FROM documents),
            tf AS (SELECT doc_id, token, count(*) AS tf FROM toks
                   WHERE token <> '' GROUP BY doc_id, token),
            dfr AS (SELECT token, count(*) AS df FROM tf GROUP BY token),
            nn AS (SELECT count(*) AS n FROM documents),
            scored AS (
              SELECT t.doc_id, t.token, t.tf, d.df,
                     round(t.tf * (ln(((SELECT n FROM nn) + 1.0)
                                      / (d.df + 1)) + 1.0), 6) AS tfidf
              FROM tf t JOIN dfr d USING (token))
            SELECT doc_id, token, tf, df, tfidf, rnk FROM (
              SELECT *, row_number() OVER (PARTITION BY doc_id
                ORDER BY tfidf DESC, token) AS rnk
              FROM scored
            ) WHERE rnk <= 3
        """,
        # Katz: x ← β + α·Aᵀx unrolled from x₀ = β over dlinks — mirrors
        # operators/katz.py exactly (left-join zero-fill)
        "katz_iter3": f"""
            WITH {E}, {DOC_DIRECTED_SQL.strip()},
            v AS MATERIALIZED (SELECT doc_id AS vid FROM documents),
            k0 AS MATERIALIZED (SELECT vid, 1.0 AS rank FROM v),
            k1 AS MATERIALIZED (SELECT v.vid, 1.0 + 0.1 * coalesce(m.s, 0)
              AS rank FROM v LEFT JOIN (SELECT e.dst AS vid, sum(p.rank) AS s
              FROM dlinks e JOIN k0 p ON p.vid = e.src GROUP BY e.dst) m
              ON m.vid = v.vid),
            k2 AS MATERIALIZED (SELECT v.vid, 1.0 + 0.1 * coalesce(m.s, 0)
              AS rank FROM v LEFT JOIN (SELECT e.dst AS vid, sum(p.rank) AS s
              FROM dlinks e JOIN k1 p ON p.vid = e.src GROUP BY e.dst) m
              ON m.vid = v.vid),
            k3 AS MATERIALIZED (SELECT v.vid, 1.0 + 0.1 * coalesce(m.s, 0)
              AS rank FROM v LEFT JOIN (SELECT e.dst AS vid, sum(p.rank) AS s
              FROM dlinks e JOIN k2 p ON p.vid = e.src GROUP BY e.dst) m
              ON m.vid = v.vid)
            SELECT vid, round(rank, 6) AS rank FROM k3
        """,
        # Eigenvector centrality: normalized power iteration x ← Ax/‖Ax‖₂
        # unrolled from x₀ = 1 — mirrors operators/eigencentrality.py; no
        # zero-fill needed (every sym vertex has ≥1 neighbor, so each s_i
        # covers the full vertex set)
        "eigencentrality_iter3": f"""
            WITH {E},
            e0 AS MATERIALIZED (SELECT vid, 1.0 AS rank FROM deg),
            {" ".join(
                f'''s{i} AS MATERIALIZED (
                  SELECT s.dst AS vid, sum(r.rank) AS r
                  FROM sym s JOIN e{i - 1} r ON r.vid = s.src
                  GROUP BY s.dst),
                e{i} AS MATERIALIZED (
                  SELECT vid, r / (SELECT sqrt(sum(r*r)) FROM s{i}) AS rank
                  FROM s{i}),'''
                for i in range(1, 4)
            ).rstrip(",")}
            SELECT vid, round(rank, 6) AS rank FROM e3
        """,
        # Adamic–Adar / RA: one wedge through shared neighbor z over sym,
        # degree carried into the wedge; ln() (NOT log() — DuckDB's log is
        # base-10); unguarded (see q_adamic_adar CAP ASSUMPTION)
        "adamic_adar": f"""
            WITH {E},
            ez AS (SELECT e.dst AS z, e.src AS leaf, d.degree AS dz
                   FROM sym e JOIN deg d ON d.vid = e.dst)
            SELECT l.leaf AS a, r.leaf AS b,
                   count(*) AS common,
                   round(sum(1.0 / ln(l.dz)), 6) AS aa,
                   round(sum(1.0 / l.dz), 6) AS ra
            FROM ez l JOIN ez r ON l.z = r.z AND l.leaf < r.leaf
            GROUP BY l.leaf, r.leaf
            HAVING count(*) >= 2
        """,
        # robots gate: same fold as urlnorm.robots_verdict — the filtered
        # rule list is transformed to (l, allow) so the init struct types
        # match for list_reduce
        "robots_gate": """
            WITH p AS (
              SELECT doc_id,
                CASE WHEN doc_id % 7 = 0
                       THEN '/admin/p' || (doc_id % 25)::VARCHAR
                     WHEN doc_id % 5 = 0
                       THEN '/static/img' || (doc_id % 25)::VARCHAR
                     WHEN doc_id % 3 = 0
                       THEN '/p/9' || (doc_id % 10)::VARCHAR
                     ELSE '/p/' || (doc_id % 25)::VARCHAR END AS path
              FROM documents
            ),
            v AS (
              SELECT doc_id, path,
                list_reduce(
                  list_prepend(struct_pack(l := -1, allow := true),
                    list_transform(
                      list_filter(
                        [struct_pack(p := '/admin', allow := false, l := 6),
                         struct_pack(p := '/static', allow := false, l := 7),
                         struct_pack(p := '/p/', allow := true, l := 3),
                         struct_pack(p := '/', allow := true, l := 1),
                         struct_pack(p := '/p/9', allow := false, l := 4)],
                        r -> starts_with(path, r.p)),
                      r -> struct_pack(l := r.l, allow := r.allow))),
                  (acc, r) -> CASE WHEN r.l > acc.l
                                     OR (r.l = acc.l AND r.allow)
                              THEN struct_pack(l := r.l, allow := r.allow)
                              ELSE acc END
                ) AS best
              FROM p
            )
            SELECT doc_id, path, best.allow AS allowed FROM v
        """,
        "value_quantiles_by_type": """
            WITH counts AS (SELECT event_type AS k, value AS v,
                                   count(*) AS cnt
                            FROM events GROUP BY 1, 2),
            cum AS (SELECT k, v,
                           sum(cnt) OVER (PARTITION BY k ORDER BY v) AS cum
                    FROM counts),
            tot AS (SELECT event_type AS k, count(*) AS n FROM events
                    GROUP BY 1),
            ps AS (SELECT unnest([25, 50, 75, 90, 99]) AS pct)
            SELECT c.k AS event_type, p.pct, min(c.v) AS value
            FROM cum c JOIN tot t USING (k), ps p
            WHERE c.cum >= ceil(p.pct / 100.0 * t.n)
            GROUP BY 1, 2
        """,
        "hourly_distinct_users": _hll_by_sql(
            "rows AS (SELECT date_trunc('hour', ts) AS key,"
            " user_id::VARCHAR AS x FROM events)"
        ),
        # ingest screen: exact md5 membership + 4-band minhash probe of
        # the batch AGAINST the corpus bands (A join B, never a self-join)
        "dedup_ingest": f"""
            WITH {_TOKS}, {_GRAMS},
            cg AS (SELECT * FROM grams WHERE doc_id % 5 <> 0),
            ng AS (SELECT * FROM grams WHERE doc_id % 5 = 0),
            csig AS MATERIALIZED (
              SELECT doc_id, {", ".join(_lsh_band_sql(b) for b in range(4))}
              FROM cg
            ),
            nsig AS MATERIALIZED (
              SELECT doc_id, {", ".join(_lsh_band_sql(b) for b in range(4))}
              FROM ng
            ),
            near AS (
              SELECT DISTINCT a, cand FROM (
                {" UNION ALL ".join(
                    f"SELECT x.doc_id AS a, y.doc_id AS cand"
                    f" FROM nsig x JOIN csig y ON x.band{b} = y.band{b}"
                    for b in range(4)
                )}
              )
            ),
            nn AS (SELECT a AS doc_id, count(*) AS n_near FROM near
                   GROUP BY 1),
            ex AS (
              SELECT t.doc_id,
                     EXISTS (SELECT 1 FROM documents c
                             WHERE c.doc_id % 5 <> 0
                               AND c.text IS NOT NULL
                               AND md5(c.text) = md5(t.text)) AS exact_dup
              FROM documents t
              WHERE t.doc_id % 5 = 0 AND t.text IS NOT NULL
            )
            SELECT e.doc_id, e.exact_dup,
                   coalesce(nn.n_near, 0)::BIGINT AS n_near_candidates,
                   CASE WHEN e.exact_dup THEN 'exact'
                        WHEN coalesce(nn.n_near, 0) > 0 THEN 'near'
                        ELSE 'unique' END AS verdict
            FROM ex e LEFT JOIN nn USING (doc_id)
        """,
        # RRF ensemble: cosine top-5 + co-citation top-5, 1/(60+rank)
        "related_fused": f"""
            WITH {E}, {DOC_DIRECTED_SQL.strip()},
            e2 AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
            q2 AS (SELECT vec_id AS query_id, v AS qv FROM e2
                   WHERE vec_id % 10 = 0),
            cosl AS (
              SELECT query_id, vec_id AS item, rank FROM (
                SELECT s.query_id, s.vec_id, row_number() OVER (
                  PARTITION BY s.query_id ORDER BY s.cos DESC, s.vec_id ASC)
                  AS rank
                FROM (SELECT q2.query_id, c.vec_id,
                             round(list_cosine_similarity(q2.qv, c.v), 6)
                               AS cos
                      FROM e2 c, q2 WHERE c.vec_id <> q2.query_id) s
              ) WHERE rank <= 5
            ),
            pairs AS (
              SELECT l.dst AS a, r.dst AS b, count(*) AS common
              FROM dlinks l JOIN dlinks r ON r.src = l.src AND l.dst < r.dst
              GROUP BY l.dst, r.dst HAVING count(*) >= 2
            ),
            rsides AS (
              SELECT a AS vid, b AS related, common FROM pairs
              UNION ALL SELECT b, a, common FROM pairs
            ),
            rell AS (
              SELECT vid AS query_id, related AS item, rnk AS rank FROM (
                SELECT vid, related, row_number() OVER (PARTITION BY vid
                  ORDER BY common DESC, related ASC) AS rnk
                FROM rsides
              ) WHERE rnk <= 5 AND vid % 10 = 0
            ),
            u AS (SELECT * FROM cosl UNION ALL SELECT * FROM rell),
            fused AS (
              SELECT query_id, item, count(*) AS n_lists,
                     round(sum(1.0 / (60 + rank)), 6) AS rrf
              FROM u GROUP BY 1, 2
            )
            SELECT query_id, item, n_lists::BIGINT AS n_lists, rrf, rnk
            FROM (
              SELECT *, row_number() OVER (PARTITION BY query_id
                ORDER BY rrf DESC, item ASC) AS rnk
              FROM fused
            ) WHERE rnk <= 5
        """,
        # per-vid top-k NEW-link recommendations: the AA wedge, existing
        # canonical edges anti-joined out, ranked on the rounded score
        "link_recs": f"""
            WITH {E},
            ez AS (SELECT e.dst AS z, e.src AS leaf, d.degree AS dz
                   FROM sym e JOIN deg d ON d.vid = e.dst),
            cmn AS (
              SELECT l.leaf AS a, r.leaf AS b,
                     round(sum(1.0 / ln(l.dz)), 6) AS aa
              FROM ez l JOIN ez r ON l.z = r.z AND l.leaf < r.leaf
              GROUP BY l.leaf, r.leaf
              HAVING count(*) >= 2
            ),
            newp AS (
              SELECT c.* FROM cmn c
              WHERE NOT EXISTS (SELECT 1 FROM und u
                                WHERE u.src = c.a AND u.dst = c.b)
            ),
            sides AS (
              SELECT a AS vid, b AS candidate, aa FROM newp
              UNION ALL SELECT b, a, aa FROM newp
            )
            SELECT vid, candidate, aa, rnk FROM (
              SELECT *, row_number() OVER (
                PARTITION BY vid ORDER BY aa DESC, candidate ASC) AS rnk
              FROM sides
            ) WHERE rnk <= 10
        """,
        # Jaccard/cosine/PA: the same wedge as adamic_adar plus true-degree
        # joins on both endpoints (operators/linkpred.py::jaccard_scores)
        "jaccard_linkpred": f"""
            WITH {E},
            ez AS (SELECT e.dst AS z, e.src AS leaf FROM sym e),
            cmn AS (
              SELECT l.leaf AS a, r.leaf AS b, count(*) AS common
              FROM ez l JOIN ez r ON l.z = r.z AND l.leaf < r.leaf
              GROUP BY l.leaf, r.leaf
              HAVING count(*) >= 2
            )
            SELECT c.a, c.b, c.common,
                   round(c.common / (da.degree + db.degree - c.common), 6)
                     AS jaccard,
                   round(c.common / sqrt(da.degree * db.degree), 6)
                     AS cosine,
                   (da.degree * db.degree)::BIGINT AS pa
            FROM cmn c
            JOIN deg da ON da.vid = c.a
            JOIN deg db ON db.vid = c.b
        """,
        # A-ES weighted sampling: md5 uniform → u^(1/w) rounded to 6dp,
        # ties by doc_id — replays operators/sampling.py::es_key exactly
        # ("smp:{seed}:{key}" md5 preimage, 12 hex digits, +0.5 quantum)
        "weighted_sample": """
            WITH s AS (
              SELECT doc_id,
                     round(pow(
                       ((('0x' || substr(md5('smp:42:' || doc_id::VARCHAR),
                                         1, 12))::BIGINT % 1000000)
                        + 0.5) / 1000000.0,
                       1.0 / n_chars), 6) AS es_key
              FROM documents WHERE n_chars IS NOT NULL AND n_chars > 0
            )
            SELECT doc_id, es_key FROM s
            ORDER BY es_key DESC, doc_id LIMIT 50
        """,
        "weighted_sample_per_lang": """
            WITH s AS (
              SELECT doc_id, lang,
                     round(pow(
                       ((('0x' || substr(md5('smp:42:' || doc_id::VARCHAR),
                                         1, 12))::BIGINT % 1000000)
                        + 0.5) / 1000000.0,
                       1.0 / n_chars), 6) AS es_key
              FROM documents WHERE n_chars IS NOT NULL AND n_chars > 0
            )
            SELECT doc_id, lang, es_key FROM (
              SELECT *, row_number() OVER (
                PARTITION BY lang ORDER BY es_key DESC, doc_id) AS rk
              FROM s
            ) WHERE rk <= 10
        """,
        # SemDeDup: the ann_ivf_topk quantizer chain (md5 pick → assign →
        # 1 Lloyd refine) then within-cell pairs at rounded cosine ≥ 0.4
        # and a recursive-CTE CC closure (rep = min vec_id), mirroring
        # operators/semdedup.py. CAP ASSUMPTION: oracle unguarded, Spark
        # capped at 100k — sf cells are ~31 ids.
        "semantic_dedup": """
            WITH RECURSIVE
            e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
            picked AS MATERIALIZED (
              SELECT vec_id, v, md5(vec_id::VARCHAR) AS h
              FROM e ORDER BY h, vec_id LIMIT 16
            ),
            cents0 AS MATERIALIZED (
              SELECT row_number() OVER (ORDER BY h, vec_id) AS cent_id, v AS cv
              FROM picked
            ),
            a0 AS MATERIALIZED (
              SELECT vec_id, v, cent_id FROM (
                SELECT e.vec_id, e.v, c.cent_id,
                       row_number() OVER (PARTITION BY e.vec_id
                         ORDER BY list_cosine_similarity(e.v, c.cv) DESC, c.cent_id) AS rnk
                FROM e, cents0 c
              ) WHERE rnk = 1
            ),
            m AS MATERIALIZED (
              SELECT cent_id, i, avg(val) AS mv
              FROM (SELECT cent_id, unnest(v) AS val,
                           unnest(range(1, len(v) + 1)) AS i
                    FROM a0)
              GROUP BY cent_id, i
            ),
            cents1 AS MATERIALIZED (
              SELECT cent_id, list(mv ORDER BY i) AS cv FROM m GROUP BY cent_id
            ),
            a1 AS MATERIALIZED (
              SELECT vec_id, v, cent_id FROM (
                SELECT e.vec_id, e.v, c.cent_id,
                       row_number() OVER (PARTITION BY e.vec_id
                         ORDER BY list_cosine_similarity(e.v, c.cv) DESC, c.cent_id) AS rnk
                FROM e, cents1 c
              ) WHERE rnk = 1
            ),
            dpairs AS MATERIALIZED (
              SELECT a, b FROM (
                SELECT x.vec_id AS a, y.vec_id AS b,
                       round(list_cosine_similarity(x.v, y.v), 6) AS cos
                FROM a1 x JOIN a1 y
                  ON x.cent_id = y.cent_id AND x.vec_id < y.vec_id
              ) WHERE cos >= 0.4
            ),
            sp AS MATERIALIZED (
              SELECT a AS src, b AS dst FROM dpairs
              UNION ALL SELECT b, a FROM dpairs
            ),
            r(vid, x) AS (
              SELECT src, src FROM sp
              UNION
              SELECT s.dst, r.x FROM sp s JOIN r ON r.vid = s.src
            )
            SELECT vid AS vec_id, min(x) AS rep_id FROM r GROUP BY vid
        """,
        "ann_ivf_topk": """
            WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
            picked AS MATERIALIZED (
              SELECT vec_id, v, md5(vec_id::VARCHAR) AS h
              FROM e ORDER BY h, vec_id LIMIT 16
            ),
            cents0 AS MATERIALIZED (
              SELECT row_number() OVER (ORDER BY h, vec_id) AS cent_id, v AS cv
              FROM picked
            ),
            a0 AS MATERIALIZED (
              SELECT vec_id, v, cent_id FROM (
                SELECT e.vec_id, e.v, c.cent_id,
                       row_number() OVER (PARTITION BY e.vec_id
                         ORDER BY list_cosine_similarity(e.v, c.cv) DESC, c.cent_id) AS rnk
                FROM e, cents0 c
              ) WHERE rnk = 1
            ),
            m AS MATERIALIZED (
              SELECT cent_id, i, avg(val) AS mv
              FROM (SELECT cent_id, unnest(v) AS val,
                           unnest(range(1, len(v) + 1)) AS i
                    FROM a0)
              GROUP BY cent_id, i
            ),
            cents1 AS MATERIALIZED (
              SELECT cent_id, list(mv ORDER BY i) AS cv FROM m GROUP BY cent_id
            ),
            a1 AS MATERIALIZED (
              SELECT vec_id, v, cent_id FROM (
                SELECT e.vec_id, e.v, c.cent_id,
                       row_number() OVER (PARTITION BY e.vec_id
                         ORDER BY list_cosine_similarity(e.v, c.cv) DESC, c.cent_id) AS rnk
                FROM e, cents1 c
              ) WHERE rnk = 1
            ),
            q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 3),
            probes AS MATERIALIZED (
              SELECT query_id, qv, cent_id FROM (
                SELECT q.query_id, q.qv, c.cent_id,
                       row_number() OVER (PARTITION BY q.query_id
                         ORDER BY list_cosine_similarity(q.qv, c.cv) DESC, c.cent_id) AS rnk
                FROM q, cents1 c
              ) WHERE rnk <= 4
            ),
            scored AS (
              SELECT p.query_id, a.vec_id,
                     round(list_cosine_similarity(p.qv, a.v), 6) AS cos
              FROM probes p JOIN a1 a
                ON a.cent_id = p.cent_id AND a.vec_id <> p.query_id
            )
            SELECT query_id, vec_id, cos, rank FROM (
              SELECT *, row_number() OVER (
                PARTITION BY query_id ORDER BY cos DESC, vec_id ASC) AS rank
              FROM scored
            ) WHERE rank <= 5
        """,
        # ANN recall report: the ann_ivf_topk chain (same 16-centroid
        # deterministic codebook, one Lloyd refine, 4 probes) on the
        # 1-in-40 query sample, scored against the exact brute-force list
        "ann_recall": """
            WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
            picked AS MATERIALIZED (
              SELECT vec_id, v, md5(vec_id::VARCHAR) AS h
              FROM e ORDER BY h, vec_id LIMIT 16
            ),
            cents0 AS MATERIALIZED (
              SELECT row_number() OVER (ORDER BY h, vec_id) AS cent_id, v AS cv
              FROM picked
            ),
            a0 AS MATERIALIZED (
              SELECT vec_id, v, cent_id FROM (
                SELECT e.vec_id, e.v, c.cent_id,
                       row_number() OVER (PARTITION BY e.vec_id
                         ORDER BY list_cosine_similarity(e.v, c.cv) DESC, c.cent_id) AS rnk
                FROM e, cents0 c
              ) WHERE rnk = 1
            ),
            m AS MATERIALIZED (
              SELECT cent_id, i, avg(val) AS mv
              FROM (SELECT cent_id, unnest(v) AS val,
                           unnest(range(1, len(v) + 1)) AS i
                    FROM a0)
              GROUP BY cent_id, i
            ),
            cents1 AS MATERIALIZED (
              SELECT cent_id, list(mv ORDER BY i) AS cv FROM m GROUP BY cent_id
            ),
            a1 AS MATERIALIZED (
              SELECT vec_id, v, cent_id FROM (
                SELECT e.vec_id, e.v, c.cent_id,
                       row_number() OVER (PARTITION BY e.vec_id
                         ORDER BY list_cosine_similarity(e.v, c.cv) DESC, c.cent_id) AS rnk
                FROM e, cents1 c
              ) WHERE rnk = 1
            ),
            q AS (SELECT vec_id AS query_id, v AS qv FROM e
                  WHERE vec_id % 40 = 0),
            probes AS MATERIALIZED (
              SELECT query_id, qv, cent_id FROM (
                SELECT q.query_id, q.qv, c.cent_id,
                       row_number() OVER (PARTITION BY q.query_id
                         ORDER BY list_cosine_similarity(q.qv, c.cv) DESC, c.cent_id) AS rnk
                FROM q, cents1 c
              ) WHERE rnk <= 4
            ),
            approx AS (
              SELECT query_id, vec_id FROM (
                SELECT s.query_id, s.vec_id, row_number() OVER (
                  PARTITION BY s.query_id ORDER BY s.cos DESC, s.vec_id ASC)
                  AS rank
                FROM (SELECT p.query_id, a.vec_id,
                             round(list_cosine_similarity(p.qv, a.v), 6) AS cos
                      FROM probes p JOIN a1 a
                        ON a.cent_id = p.cent_id
                       AND a.vec_id <> p.query_id) s
              ) WHERE rank <= 5
            ),
            exact AS (
              SELECT query_id, vec_id FROM (
                SELECT s.query_id, s.vec_id, row_number() OVER (
                  PARTITION BY s.query_id ORDER BY s.cos DESC, s.vec_id ASC)
                  AS rank
                FROM (SELECT q.query_id, c.vec_id,
                             round(list_cosine_similarity(q.qv, c.v), 6) AS cos
                      FROM e c, q WHERE c.vec_id <> q.query_id) s
              ) WHERE rank <= 5
            ),
            ex AS (SELECT query_id, count(*) AS n_exact
                   FROM exact GROUP BY 1),
            ht AS (SELECT x.query_id, count(*) AS n_hit
                   FROM exact x JOIN approx a
                     ON a.query_id = x.query_id AND a.vec_id = x.vec_id
                   GROUP BY 1),
            per AS (SELECT ex.query_id, ex.n_exact,
                           coalesce(ht.n_hit, 0) AS n_hit
                    FROM ex LEFT JOIN ht USING (query_id))
            SELECT count(*)::BIGINT AS n_queries,
                   round(avg(n_hit::DOUBLE / n_exact), 6) AS recall_at_k,
                   round(min(n_hit::DOUBLE / n_exact), 6) AS min_recall,
                   round(avg(CASE WHEN n_hit = n_exact THEN 1.0 ELSE 0.0 END),
                         6) AS frac_perfect
            FROM per
        """,
        # segment (passage) dedup: non-overlapping 4-token windows; first
        # global (doc_id, seg_idx) occurrence kept. Envelope: fixture texts
        # are non-empty, so the empty-text [""] degenerate segment never
        # arises at oracle scale (unit-tested Spark-side).
        "segment_dedup": """
            WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t
                          FROM documents),
            segs AS (
              SELECT doc_id, j-1 AS seg_idx,
                     array_to_string(list_slice(t, (j-1)*4+1, (j-1)*4+4), ' ')
                       AS seg
              FROM toks,
                   unnest(generate_series(1,
                     greatest(CAST(ceil(len(t)/4.0) AS BIGINT), 1))) AS u(j)
            ),
            rn AS (SELECT doc_id, seg_idx, seg,
                          row_number() OVER (PARTITION BY seg
                                             ORDER BY doc_id, seg_idx) AS rn
                   FROM segs)
            SELECT doc_id,
                   coalesce(string_agg(CASE WHEN rn = 1 THEN seg END, ' '
                                       ORDER BY seg_idx), '') AS text_clean,
                   count(*) AS n_segs,
                   CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT)
                     AS n_kept
            FROM rn GROUP BY doc_id
        """,
        "duplicated_segments": """
            WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t
                          FROM documents),
            segs AS (
              SELECT doc_id, j-1 AS seg_idx,
                     array_to_string(list_slice(t, (j-1)*4+1, (j-1)*4+4), ' ')
                       AS seg
              FROM toks,
                   unnest(generate_series(1,
                     greatest(CAST(ceil(len(t)/4.0) AS BIGINT), 1))) AS u(j)
            ),
            w AS (SELECT doc_id, seg_idx, seg,
                         row_number() OVER (PARTITION BY seg
                                            ORDER BY doc_id, seg_idx) AS rn,
                         first_value(doc_id) OVER (PARTITION BY seg
                                            ORDER BY doc_id, seg_idx)
                           AS first_id,
                         first_value(seg_idx) OVER (PARTITION BY seg
                                            ORDER BY doc_id, seg_idx)
                           AS first_seg_idx
                  FROM segs)
            SELECT doc_id, seg_idx, seg, first_id, first_seg_idx
            FROM w WHERE rn > 1
        """,
        # SCC = mutual-reachability classes; label = min member vid. The
        # closure r is O(n·reach) pairs — oracle-scale only (n=500).
        # regexes are Java/RE2-portable by construction (pii.py); masked
        # md5 certifies the redaction byte-for-byte
        "pii_scan": f"""
            WITH d AS (
              SELECT doc_id,
                     text || ' contact user' || doc_id::VARCHAR
                       || '@mail.example.com from 10.'
                       || (doc_id % 200 + 1)::VARCHAR || '.0.'
                       || (doc_id % 250)::VARCHAR
                       || CASE WHEN doc_id % 3 = 0
                               THEN ' call 555-01'
                                 || lpad((doc_id % 100)::VARCHAR, 2, '0')
                               ELSE '' END AS t
              FROM documents WHERE text IS NOT NULL
            )
            SELECT doc_id,
                   len(regexp_extract_all(t, '{EMAIL_RE}'))::BIGINT
                     AS n_emails,
                   len(regexp_extract_all(t, '{IPV4_RE}'))::BIGINT AS n_ipv4,
                   len(regexp_extract_all(t, '{PHONE_RE}'))::BIGINT
                     AS n_phones,
                   md5(regexp_replace(regexp_replace(regexp_replace(t,
                       '{EMAIL_RE}', '[EMAIL]', 'g'),
                       '{IPV4_RE}', '[IP]', 'g'),
                       '{PHONE_RE}', '[PHONE]', 'g')) AS clean_md5
            FROM d
        """,
        # stage-for-stage twin of canonical_url lives in urlnorm.py
        # (CANON_SQL_STAGES) so the implementations cannot drift apart
        "url_canonicalize": f"""
            WITH murls AS (
              SELECT doc_id,
                     CASE WHEN doc_id % 2 = 0 THEN 'HTTPS://'
                          ELSE 'http://' END
                  || CASE WHEN doc_id % 3 = 0 THEN 'WWW.' ELSE '' END
                  || CASE WHEN doc_id % 5 = 0
                          THEN upper(coalesce(source, 'x'))
                          ELSE coalesce(source, 'x') END
                  || '.Example.COM'
                  || CASE WHEN doc_id % 4 = 0
                          THEN CASE WHEN doc_id % 2 = 0 THEN ':443'
                                    ELSE ':80' END
                          ELSE '' END
                  || '/p/' || (doc_id % 25)::VARCHAR
                  || CASE WHEN doc_id % 6 = 0 THEN '//' ELSE '' END
                  || CASE WHEN doc_id % 7 = 0 THEN '/' ELSE '' END
                  || CASE WHEN doc_id % 2 = 0
                          THEN '?id=' || (doc_id % 10)::VARCHAR
                            || '&utm_campaign=c'
                          ELSE '?ref=x&id=' || (doc_id % 10)::VARCHAR END
                  || CASE WHEN doc_id % 11 = 0 THEN '#s' ELSE '' END
                     AS url
              FROM documents
            ),
            {CANON_SQL_STAGES.strip()}
            SELECT canon_url, count(*)::BIGINT AS n_urls,
                   count(DISTINCT url)::BIGINT AS n_raw_variants
            FROM canon GROUP BY 1
        """,
        # bitlen via length(bin(x)) — pure-integer, exact in both engines
        "gap_encoding": f"""
            WITH {E}, {DOC_DIRECTED_SQL.strip()},
            g AS (
              SELECT src, dst,
                     lag(dst) OVER (PARTITION BY src ORDER BY dst) AS prev
              FROM dlinks
            ),
            b AS (
              SELECT CASE WHEN prev IS NULL THEN length(bin(dst + 1))
                          ELSE length(bin(dst - prev)) END AS bits
              FROM g
            )
            SELECT count(*)::BIGINT AS n_links,
                   (SELECT count(DISTINCT src) FROM dlinks)::BIGINT
                     AS n_lists,
                   sum(bits)::BIGINT AS total_bits,
                   round(sum(bits) / (1.0 * count(*)), 6) AS bits_per_link
            FROM b
        """,
        "lang_assortativity": f"""
            WITH {E},
            l AS (SELECT doc_id AS vid, lang FROM documents),
            e2 AS (
              SELECT la.lang AS la, lb.lang AS lb
              FROM sym s JOIN l la ON la.vid = s.src
                         JOIN l lb ON lb.vid = s.dst
            ),
            q AS (SELECT avg(CASE WHEN la = lb THEN 1.0 ELSE 0.0 END) AS q
                  FROM e2),
            sh AS (SELECT la, count(*) AS c FROM e2 GROUP BY la),
            ee AS (SELECT sum(c*c) / (1.0 * sum(c) * sum(c)) AS e FROM sh)
            SELECT round(q, 6) AS same_frac, round(e, 6) AS expected,
                   CASE WHEN e < 1.0 THEN round((q - e) / (1 - e), 6) END
                     AS assortativity
            FROM q, ee
        """,
        "dedup_rate_by_source": """
            SELECT coalesce(source, '') AS key,
                   count(*)::BIGINT AS n_docs,
                   count(DISTINCT md5(text))::BIGINT AS n_unique,
                   round(1 - count(DISTINCT md5(text)) / (1.0 * count(*)), 6)
                     AS dup_rate
            FROM documents WHERE text IS NOT NULL GROUP BY 1
        """,
        # two bounded recursive BFS closures; min(d) per vid is the hop
        # distance, pivot tie-break (dist DESC, vid ASC) matches Spark
        "double_sweep": f"""
            WITH RECURSIVE {E},
            b1(vid, d) AS (
              SELECT CAST(0 AS BIGINT), 0
              UNION
              SELECT s.dst, b1.d + 1 FROM b1 JOIN sym s ON s.src = b1.vid
              WHERE b1.d < 64
            ),
            d1 AS (SELECT vid, min(d) AS dist FROM b1 GROUP BY vid),
            farv AS (SELECT vid FROM d1 ORDER BY dist DESC, vid ASC LIMIT 1),
            b2(vid, d) AS (
              SELECT vid, 0 FROM farv
              UNION
              SELECT s.dst, b2.d + 1 FROM b2 JOIN sym s ON s.src = b2.vid
              WHERE b2.d < 64
            ),
            d2 AS (SELECT vid, min(d) AS dist FROM b2 GROUP BY vid)
            SELECT 0 AS start_vid, (SELECT vid FROM farv) AS far_vid,
                   max(dist) AS diameter_lb
            FROM d2
        """,
        # sum(int) is HUGEINT in DuckDB -> ::BIGINT; ln() not log() (lore)
        "lexical_diversity": """
            WITH tf AS (
              SELECT doc_id, token, count(*) AS c
              FROM (SELECT doc_id,
                           unnest(list_filter(string_split(text, ' '),
                                              x -> x <> '')) AS token
                    FROM documents WHERE text IS NOT NULL)
              GROUP BY doc_id, token
            )
            SELECT doc_id,
                   sum(c)::BIGINT AS n_tokens,
                   count(*)::BIGINT AS n_types,
                   round(count(*) / (1.0 * sum(c)), 6) AS ttr,
                   round(ln(1.0 * sum(c))
                         - sum(c * ln(c)) / (1.0 * sum(c)), 6) AS entropy
            FROM tf GROUP BY doc_id
        """,
        "daily_retention": """
            WITH du AS (SELECT DISTINCT ts::DATE AS day, user_id
                        FROM events),
            act AS (SELECT day, count(*)::BIGINT AS n_active
                    FROM du GROUP BY day),
            ret AS (SELECT d.day, count(*)::BIGINT AS n_retained
                    FROM du d JOIN du p
                      ON p.user_id = d.user_id AND p.day = d.day - 1
                    GROUP BY d.day)
            SELECT strftime(a.day, '%Y-%m-%d') AS day,
                   a.n_active,
                   coalesce(r.n_retained, 0)::BIGINT AS n_retained,
                   round(coalesce(r.n_retained, 0) / (1.0 * a.n_active), 6)
                     AS retention
            FROM act a LEFT JOIN ret r ON r.day = a.day
        """,
        # TextRank = the weighted-PR unroll over the word co-occurrence
        # graph; top-20 on the ROUNDED rank, ties by word
        "textrank_keywords": """
            WITH tk AS (
              SELECT doc_id,
                     list_filter(string_split(text, ' '), x -> x <> '')
                       AS toks
              FROM documents WHERE text IS NOT NULL
            ),
            bg AS (
              SELECT toks[i] AS v, toks[i+1] AS w
              FROM tk, unnest(generate_series(1, len(toks) - 1)) AS u(i)
            ),
            wg AS (
              SELECT least(v, w) AS src, greatest(v, w) AS dst,
                     CAST(count(*) AS DOUBLE) AS wt
              FROM bg WHERE v <> w GROUP BY 1, 2
            ),
            wsym AS (SELECT src, dst, wt FROM wg
                     UNION ALL SELECT dst, src, wt FROM wg),
            wv AS MATERIALIZED (SELECT src AS vid, sum(wt) AS tot
                                FROM wsym GROUP BY src),
            nv AS (SELECT count(*) AS n FROM wv),
            r0 AS (SELECT vid, 1.0/(SELECT n FROM nv) AS rank, tot FROM wv),
            m1 AS (SELECT e.dst AS vid, sum(e.wt * r.rank / r.tot) AS s
                   FROM wsym e JOIN r0 r ON e.src = r.vid GROUP BY e.dst),
            r1 AS MATERIALIZED (
              SELECT v.vid,
                     0.15/(SELECT n FROM nv) + 0.85*coalesce(m.s, 0) AS rank,
                     v.tot
              FROM wv v LEFT JOIN m1 m ON m.vid = v.vid
            ),
            m2 AS (SELECT e.dst AS vid, sum(e.wt * r.rank / r.tot) AS s
                   FROM wsym e JOIN r1 r ON e.src = r.vid GROUP BY e.dst)
            SELECT v.vid AS word,
                   round(0.15/(SELECT n FROM nv) + 0.85*coalesce(m.s, 0), 6)
                     AS rank
            FROM wv v LEFT JOIN m2 m ON m.vid = v.vid
            ORDER BY rank DESC, word ASC LIMIT 20
        """,
        # winnowing replay: 48-bit md5 gram hashes, forward window min of
        # struct(h, -pos) = rightmost-tie argmin in one pass (struct
        # comparison is lexicographic in both engines), full windows only
        "bpe_merges": _bpe_oracle(3),
        "bpe_compression": _bpe_oracle(3, final="compression"),
        "event_transitions": """
            WITH seq AS (
              SELECT event_type AS from_type,
                     lead(event_type) OVER (PARTITION BY user_id
                                            ORDER BY ts, event_id)
                       AS to_type
              FROM events
            ),
            cnt AS (SELECT from_type, to_type, count(*) AS n FROM seq
                    WHERE to_type IS NOT NULL GROUP BY 1, 2),
            tot AS (SELECT from_type, sum(n) AS t FROM cnt GROUP BY 1)
            SELECT c.from_type, c.to_type, c.n::BIGINT AS n,
                   round(c.n::DOUBLE / t.t, 6) AS p
            FROM cnt c JOIN tot t USING (from_type)
        """,
        "langid_confusion": f"""
            WITH {_TOKS},
            hits AS (
              SELECT doc_id, lang, hits FROM (
                SELECT doc_id,
                       unnest(['de','en','es','fr']) AS lang,
                       unnest([
                         len(list_filter(t, x -> x = 'der')),
                         len(list_filter(t, x -> x = 'the')),
                         len(list_filter(t, x -> x = 'el')),
                         len(list_filter(t, x -> x = 'le'))
                       ]) AS hits
                FROM toks
              )
            ),
            pred AS (
              SELECT doc_id, lang AS pred_lang FROM (
                SELECT doc_id, lang,
                       row_number() OVER (PARTITION BY doc_id
                         ORDER BY hits DESC, lang ASC) AS rn
                FROM hits
              ) WHERE rn = 1
            )
            SELECT d.lang AS actual, p.pred_lang, count(*)::BIGINT AS n
            FROM documents d JOIN pred p ON p.doc_id = d.doc_id
            GROUP BY 1, 2
        """,
        # funnel: earliest-witness conversion, strict ts ordering
        "funnel": """
            WITH s1 AS (SELECT user_id, min(ts) AS t FROM events
                        WHERE event_type = 'view' GROUP BY 1),
            s2 AS (SELECT e.user_id, min(e.ts) AS t
                   FROM events e JOIN s1 ON s1.user_id = e.user_id
                   WHERE e.event_type = 'click' AND e.ts > s1.t GROUP BY 1),
            s3 AS (SELECT e.user_id, min(e.ts) AS t
                   FROM events e JOIN s2 ON s2.user_id = e.user_id
                   WHERE e.event_type = 'purchase' AND e.ts > s2.t
                   GROUP BY 1),
            c AS (SELECT (SELECT count(*) FROM s1) AS c1,
                         (SELECT count(*) FROM s2) AS c2,
                         (SELECT count(*) FROM s3) AS c3)
            SELECT 1 AS stage_idx, 'view' AS stage, c1::BIGINT AS n_users,
                   round(c1::DOUBLE / nullif(c1, 0), 6) AS conv_from_prev,
                   round(c1::DOUBLE / nullif(c1, 0), 6) AS conv_from_first
            FROM c
            UNION ALL
            SELECT 2, 'click', c2::BIGINT,
                   round(c2::DOUBLE / nullif(c1, 0), 6),
                   round(c2::DOUBLE / nullif(c1, 0), 6) FROM c
            UNION ALL
            SELECT 3, 'purchase', c3::BIGINT,
                   round(c3::DOUBLE / nullif(c2, 0), 6),
                   round(c3::DOUBLE / nullif(c1, 0), 6) FROM c
        """,
        # co-visitation: get_json_object($.k) == json_extract_string;
        # ranks on (n_co, ROUNDED cos, rec) — total order, both engines
        "covisitation": """
            WITH ui AS (
              SELECT DISTINCT user_id,
                     json_extract_string(props, '$.k')::BIGINT AS item
              FROM events
              WHERE user_id IS NOT NULL
                AND json_extract_string(props, '$.k') IS NOT NULL
            ),
            n AS (SELECT item, count(*) AS n FROM ui GROUP BY 1),
            pairs AS (
              SELECT a.item AS item_a, b.item AS item_b, count(*) AS n_co
              FROM ui a JOIN ui b ON a.user_id = b.user_id
                                 AND a.item < b.item
              GROUP BY 1, 2
            ),
            scored AS (
              SELECT p.item_a, p.item_b, p.n_co,
                     round(p.n_co / sqrt(na.n * nb.n), 6) AS cos
              FROM pairs p JOIN n na ON na.item = p.item_a
                           JOIN n nb ON nb.item = p.item_b
            ),
            sym AS (
              SELECT item_a AS item, item_b AS rec, n_co, cos FROM scored
              UNION ALL
              SELECT item_b, item_a, n_co, cos FROM scored
            )
            SELECT item, rec, n_co::BIGINT AS n_co, cos, rank FROM (
              SELECT *, row_number() OVER (
                PARTITION BY item
                ORDER BY n_co DESC, cos DESC, rec ASC) AS rank
              FROM sym
            ) WHERE rank <= 3
        """,
        # JS divergence: inner join on shared tokens; the zero-mass terms
        # fold in closed form (p-only token contributes p*ln2), so no
        # outer join; fully disjoint pairs come from the key cross join
        "lang_divergence": """
            WITH toks AS (
              SELECT lang AS key,
                     unnest(list_filter(string_split(text, ' '),
                                        x -> x <> '')) AS token
              FROM documents WHERE text IS NOT NULL AND lang IS NOT NULL
            ),
            cnt AS (SELECT key, token, count(*) AS c FROM toks GROUP BY 1, 2),
            tot AS (SELECT key, sum(c) AS t FROM cnt GROUP BY 1),
            dist AS (SELECT c.key, c.token, c.c::DOUBLE / t.t AS p
                     FROM cnt c JOIN tot t USING (key)),
            shared AS (
              SELECT a.key AS key_a, b.key AS key_b, count(*) AS n_shared,
                     sum(a.p * ln(a.p / ((a.p + b.p) / 2))) AS ta,
                     sum(b.p * ln(b.p / ((a.p + b.p) / 2))) AS tb,
                     sum(a.p) AS spa, sum(b.p) AS spb
              FROM dist a JOIN dist b ON a.token = b.token AND a.key < b.key
              GROUP BY 1, 2
            ),
            keys AS (SELECT DISTINCT key FROM dist),
            pairs AS (SELECT a.key AS key_a, b.key AS key_b
                      FROM keys a, keys b WHERE a.key < b.key)
            SELECT p.key_a, p.key_b,
                   coalesce(s.n_shared, 0)::BIGINT AS n_shared,
                   round(0.5 * (coalesce(s.ta, 0)
                                + (1 - coalesce(s.spa, 0)) * ln(2))
                         + 0.5 * (coalesce(s.tb, 0)
                                  + (1 - coalesce(s.spb, 0)) * ln(2)), 6)
                     AS js
            FROM pairs p LEFT JOIN shared s USING (key_a, key_b)
        """,
        # NMI/ARI from the contingency table; ln() on both engines, nmi
        # normalized by the UNROUNDED entropies, si*sj in double (the
        # operator's overflow rule)
        "label_agreement": """
            WITH cont AS (SELECT lang AS la, source AS lb, count(*) AS nij
                          FROM documents GROUP BY 1, 2),
            ma AS (SELECT la, sum(nij) AS ai FROM cont GROUP BY 1),
            mb AS (SELECT lb, sum(nij) AS bj FROM cont GROUP BY 1),
            tot AS (SELECT sum(nij) AS n, sum(nij*(nij-1)/2) AS sij
                    FROM cont),
            sa AS (SELECT count(*) AS n_labels_a, sum(ai*(ai-1)/2) AS si
                   FROM ma),
            sb AS (SELECT count(*) AS n_labels_b, sum(bj*(bj-1)/2) AS sj
                   FROM mb),
            mi AS (SELECT sum((nij::DOUBLE / t.n)
                              * ln(t.n * nij / (ma.ai * mb.bj)::DOUBLE))
                          AS mi
                   FROM cont JOIN ma USING (la) JOIN mb USING (lb), tot t),
            ha AS (SELECT -sum((ai::DOUBLE / t.n) * ln(ai::DOUBLE / t.n))
                          AS h_a FROM ma, tot t),
            hb AS (SELECT -sum((bj::DOUBLE / t.n) * ln(bj::DOUBLE / t.n))
                          AS h_b FROM mb, tot t)
            SELECT t.n::BIGINT AS n, sa.n_labels_a::BIGINT AS n_labels_a,
                   sb.n_labels_b::BIGINT AS n_labels_b,
                   round(h_a, 6) AS h_a, round(h_b, 6) AS h_b,
                   round(mi / sqrt(nullif(h_a * h_b, 0)), 6) AS nmi,
                   round((t.sij - sa.si::DOUBLE * sb.sj
                                  / (t.n * (t.n - 1) / 2.0))
                         / nullif((sa.si + sb.sj) / 2.0
                                  - sa.si::DOUBLE * sb.sj
                                    / (t.n * (t.n - 1) / 2.0), 0), 6)
                     AS ari
            FROM tot t, sa, sb, mi, ha, hb
        """,
        # edge cut: und edges from the doc graph; bins are md5 of the
        # vertex id (hash scheme) / of the documents' source key (host
        # scheme), 12 hex digits mod 16 — the shared bucket convention
        "edge_cut": f"""
            WITH {E},
            vb AS (SELECT doc_id,
                          ('0x' || substr(md5(doc_id::VARCHAR), 1, 12))::BIGINT
                            % 16 AS bin
                   FROM documents),
            hb AS (SELECT doc_id,
                          ('0x' || substr(md5(source), 1, 12))::BIGINT
                            % 16 AS bin
                   FROM documents)
            SELECT 'hash' AS scheme, count(*)::BIGINT AS n_edges,
                   sum(CASE WHEN x.bin <> y.bin THEN 1 ELSE 0 END)::BIGINT
                     AS n_cut,
                   round(sum(CASE WHEN x.bin <> y.bin THEN 1 ELSE 0 END)
                         ::DOUBLE / count(*), 6) AS cut_frac
            FROM und JOIN vb x ON x.doc_id = und.src
                     JOIN vb y ON y.doc_id = und.dst
            UNION ALL
            SELECT 'host', count(*)::BIGINT,
                   sum(CASE WHEN x.bin <> y.bin THEN 1 ELSE 0 END)::BIGINT,
                   round(sum(CASE WHEN x.bin <> y.bin THEN 1 ELSE 0 END)
                         ::DOUBLE / count(*), 6)
            FROM und JOIN hb x ON x.doc_id = und.src
                     JOIN hb y ON y.doc_id = und.dst
        """,
        # LSH eval: positives = shingle-inverted-index pairs verified by
        # exact 4dp-rounded Jaccard >= 0.5; candidates = the standard
        # k=16/4-band minhash cand CTE. Same cap assumption as
        # minhash_lsh_pairs (band/shingle cells far below 100k at test SF)
        "neardup_eval": f"""
            WITH {_TOKS}, {_GRAMS}, {_lsh_cand_sql()},
            gx AS (SELECT doc_id, unnest(g) AS s FROM grams),
            tp AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
                   FROM gx x JOIN gx y ON x.s = y.s
                             AND x.doc_id < y.doc_id),
            pos AS (
              SELECT t.a, t.b
              FROM tp t JOIN grams ga ON ga.doc_id = t.a
                        JOIN grams gb ON gb.doc_id = t.b
              WHERE round(CAST(len(list_intersect(ga.g, gb.g)) AS DOUBLE)
                          / len(list_distinct(ga.g || gb.g)), 4) >= 0.5
            ),
            hit AS (SELECT p.a, p.b FROM pos p
                    JOIN cand c ON c.a = p.a AND c.b = p.b),
            m AS (SELECT (SELECT count(*) FROM pos) AS n_pos,
                         (SELECT count(*) FROM cand) AS n_cand,
                         (SELECT count(*) FROM hit) AS n_hit)
            SELECT n_pos::BIGINT AS n_pos, n_cand::BIGINT AS n_cand,
                   n_hit::BIGINT AS n_hit,
                   round(n_hit::DOUBLE / nullif(n_pos, 0), 6) AS recall,
                   round(n_hit::DOUBLE / nullif(n_cand, 0), 6) AS precision
            FROM m
        """,
        # Heaps replay: plain cumulative window over doc_id order (the
        # Spark side's two-phase prefix sum computes the same values);
        # the fit is one scalar aggregate, 6dp-rounded on both sides
        "heaps_law": """
            WITH base AS (
              SELECT doc_id,
                     list_filter(string_split(text, ' '), x -> x <> '') AS t
              FROM documents WHERE text IS NOT NULL
            ),
            fs AS (
              SELECT doc_id, count(*) AS new_types FROM (
                SELECT token, min(doc_id) AS doc_id
                FROM (SELECT doc_id, unnest(list_distinct(t)) AS token
                      FROM base)
                GROUP BY token
              ) GROUP BY doc_id
            ),
            per AS (
              SELECT b.doc_id, len(b.t) AS n_tok,
                     coalesce(f.new_types, 0) AS new_types
              FROM base b LEFT JOIN fs f USING (doc_id)
            ),
            cum AS (
              SELECT sum(n_tok) OVER (ORDER BY doc_id) AS n_cum,
                     sum(new_types) OVER (ORDER BY doc_id) AS v_cum
              FROM per
            ),
            pts AS (
              SELECT ln(n_cum) AS x, ln(v_cum) AS y, n_cum, v_cum
              FROM cum WHERE n_cum > 0 AND v_cum > 0
            ),
            agg AS (
              SELECT count(*) AS n, avg(x) AS mx, avg(y) AS my,
                     sum(x*y) AS sxy, sum(x*x) AS sxx,
                     max(n_cum) AS tt, max(v_cum) AS vs
              FROM pts
            )
            SELECT n::BIGINT AS n_points, tt::BIGINT AS total_tokens,
                   vs::BIGINT AS vocab_size,
                   round((sxy - n*mx*my) / (sxx - n*mx*mx), 6) AS beta,
                   round(exp(my - (sxy - n*mx*my) / (sxx - n*mx*mx) * mx), 6)
                     AS k_coef
            FROM agg
        """,
        # budget curve: quality_scores replayed verbatim, fanned against
        # the constant threshold grid
        "quality_budget": """
            WITH st AS (
              SELECT len(string_split(text, ' ')) AS n_tokens,
                     len(list_filter(string_split(text, ' '),
                         x -> x IN ('the','and','of','to','a'))) AS n_stop
              FROM documents WHERE text IS NOT NULL
            ),
            sc AS (
              SELECT n_tokens,
                     round(least(1.0, n_tokens/50.0)
                           * (0.5 + 0.5*n_stop/greatest(n_tokens, 1)), 4)
                       AS score
              FROM st
            ),
            grid AS (
              SELECT round(g.i / 10.0, 6) AS threshold
              FROM unnest(generate_series(0, 9)) AS g(i)
            ),
            tot AS (SELECT sum(n_tokens)::DOUBLE AS tot FROM sc)
            SELECT g.threshold,
                   count(*)::BIGINT AS n_docs,
                   sum(s.n_tokens)::BIGINT AS n_tokens,
                   round(sum(s.n_tokens)::DOUBLE / t.tot, 6) AS frac_tokens
            FROM sc s JOIN grid g ON s.score >= g.threshold, tot t
            GROUP BY g.threshold, t.tot
        """,
        "winnow_fingerprints": """
            WITH t AS (
              SELECT doc_id,
                     list_filter(string_split(text, ' '), x -> x <> '')
                       AS toks
              FROM documents WHERE text IS NOT NULL
            ),
            g AS (
              SELECT doc_id, i - 1 AS pos,
                     ('0x' || substr(md5(array_to_string(
                         list_slice(toks, i, i + 3), ' ')), 1, 12))::BIGINT
                       AS h
              FROM t, unnest(generate_series(1, len(toks) - 3)) AS u(i)
              WHERE len(toks) >= 4
            ),
            w AS (
              SELECT doc_id,
                     min(struct_pack(h := h, nj := -pos)) OVER
                       (PARTITION BY doc_id ORDER BY pos
                        ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS m,
                     count(*) OVER
                       (PARTITION BY doc_id ORDER BY pos
                        ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS wn
              FROM g
            )
            SELECT DISTINCT doc_id, -(m.nj) AS pos, m.h AS fp
            FROM w WHERE wn = 4
        """,
        # MOSS candidates: distinct (doc, fp) self-joined on the
        # fingerprint, >= 2 shared
        "winnow_pairs": """
            WITH t AS (
              SELECT doc_id,
                     list_filter(string_split(text, ' '), x -> x <> '')
                       AS toks
              FROM documents WHERE text IS NOT NULL
            ),
            g AS (
              SELECT doc_id, i - 1 AS pos,
                     ('0x' || substr(md5(array_to_string(
                         list_slice(toks, i, i + 3), ' ')), 1, 12))::BIGINT
                       AS h
              FROM t, unnest(generate_series(1, len(toks) - 3)) AS u(i)
              WHERE len(toks) >= 4
            ),
            w AS (
              SELECT doc_id,
                     min(struct_pack(h := h, nj := -pos)) OVER
                       (PARTITION BY doc_id ORDER BY pos
                        ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS m,
                     count(*) OVER
                       (PARTITION BY doc_id ORDER BY pos
                        ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS wn
              FROM g
            ),
            fps AS MATERIALIZED (
              SELECT DISTINCT doc_id, m.h AS fp FROM w WHERE wn = 4
            )
            SELECT x.doc_id AS a, y.doc_id AS b, count(*)::BIGINT AS n_shared
            FROM fps x JOIN fps y ON x.fp = y.fp AND x.doc_id < y.doc_id
            GROUP BY 1, 2 HAVING count(*) >= 2
        """,
        # condensation layering: exact longest path via a recursive CTE
        # over the (acyclic) quotient graph — the Spark side's monotone
        # fixpoint converges to the same exact values, so no truncation
        # sync is needed
        "dag_layers": f"""
            WITH RECURSIVE {E}, {DOC_DIRECTED_SQL.strip()},
            r(a, b) AS (
              SELECT src, dst FROM dlinks
              UNION
              SELECT r.a, d.dst FROM r JOIN dlinks d ON d.src = r.b
            ),
            mut AS (
              SELECT r1.a AS vid, r1.b AS u
              FROM r r1 JOIN r r2 ON r2.a = r1.b AND r2.b = r1.a
            ),
            scc AS (
              SELECT d.doc_id AS vid,
                     least(d.doc_id, coalesce(min(m.u), d.doc_id)) AS label
              FROM documents d LEFT JOIN mut m ON m.vid = d.doc_id
              GROUP BY d.doc_id
            ),
            cedges AS (
              SELECT DISTINCT sa.label AS src, sb.label AS dst
              FROM dlinks e
              JOIN scc sa ON sa.vid = e.src
              JOIN scc sb ON sb.vid = e.dst
              WHERE sa.label <> sb.label
            ),
            comps AS (SELECT DISTINCT label AS v FROM scc),
            lp(v, l) AS (
              SELECT v, 0 FROM comps
              UNION
              SELECT c.dst, lp.l + 1 FROM lp JOIN cedges c ON c.src = lp.v
            )
            SELECT v AS comp, max(l) AS layer FROM lp GROUP BY v
        """,
        "scc_labels": f"""
            WITH RECURSIVE {E}, {DOC_DIRECTED_SQL.strip()},
            r(a, b) AS (
              SELECT src, dst FROM dlinks
              UNION
              SELECT r.a, d.dst FROM r JOIN dlinks d ON d.src = r.b
            ),
            mut AS (
              SELECT r1.a AS vid, r1.b AS u
              FROM r r1 JOIN r r2 ON r2.a = r1.b AND r2.b = r1.a
            )
            SELECT d.doc_id AS vid,
                   least(d.doc_id, coalesce(min(m.u), d.doc_id)) AS scc
            FROM documents d LEFT JOIN mut m ON m.vid = d.doc_id
            GROUP BY d.doc_id
        """,
        # bow-tie relative to the largest SCC (ties: smallest label); the
        # CASE order mirrors operators/scc.py:bowtie exactly (CORE before
        # IN before OUT before TENDRIL); weak reachability rides `sym`,
        # which IS the symmetrized closure of dlinks.
        "bowtie_regions": f"""
            WITH RECURSIVE {E}, {DOC_DIRECTED_SQL.strip()},
            r(a, b) AS (
              SELECT src, dst FROM dlinks
              UNION
              SELECT r.a, d.dst FROM r JOIN dlinks d ON d.src = r.b
            ),
            mut AS (
              SELECT r1.a AS vid, r1.b AS u
              FROM r r1 JOIN r r2 ON r2.a = r1.b AND r2.b = r1.a
            ),
            scc AS (
              SELECT d.doc_id AS vid,
                     least(d.doc_id, coalesce(min(m.u), d.doc_id)) AS label
              FROM documents d LEFT JOIN mut m ON m.vid = d.doc_id
              GROUP BY d.doc_id
            ),
            core_id AS (
              SELECT label FROM (SELECT label, count(*) AS n FROM scc
                                 GROUP BY label)
              ORDER BY n DESC, label ASC LIMIT 1
            ),
            coreset AS (SELECT vid FROM scc
                        WHERE label = (SELECT label FROM core_id)),
            fwd(v) AS (
              SELECT vid FROM coreset
              UNION
              SELECT d.dst FROM fwd JOIN dlinks d ON d.src = fwd.v
            ),
            bwd(v) AS (
              SELECT vid FROM coreset
              UNION
              SELECT d.src FROM bwd JOIN dlinks d ON d.dst = bwd.v
            ),
            wk(v) AS (
              SELECT vid FROM coreset
              UNION
              SELECT s.dst FROM wk JOIN sym s ON s.src = wk.v
            )
            SELECT s.vid,
                   CASE WHEN s.label = (SELECT label FROM core_id) THEN 'CORE'
                        WHEN s.vid IN (SELECT v FROM bwd) THEN 'IN'
                        WHEN s.vid IN (SELECT v FROM fwd) THEN 'OUT'
                        WHEN s.vid IN (SELECT v FROM wk) THEN 'TENDRIL'
                        ELSE 'DISCONNECTED' END AS region
            FROM scc s
        """,
    }


def _simhash_bit_sql(p: int, src: str = "g") -> str:
    """One SimHash bit as SQL over the shingle list column ``src`` — must
    mirror tric_spark.operators.dedup.simhash."""
    return f"""
      CASE WHEN list_sum(list_transform({src},
             x -> CASE WHEN strpos('89abcdef', substr(md5(x), {p + 1}, 1)) > 0
                       THEN 1 ELSE -1 END)) >= 0
           THEN '1' ELSE '0' END
    """
