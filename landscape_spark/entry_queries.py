"""The engine's query registry + matching DuckDB oracle SQL.

Every queries() entry the driver runs at sf=0.01 has an oracle here unless it
is genuinely non-SQL-expressible (sketch-randomized ops). Column names are
aliased identically on both sides (driver hashes values after sorting columns
by name).
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from landscape_spark import linkgraph
from landscape_spark.graph.cc import connected_components_exact
from landscape_spark.graph.lpa import label_propagation
from landscape_spark.graph.pagerank import pagerank
from landscape_spark.graph.triangles import triangle_count

PR_ITERS = 20
PR_DAMPING = 0.85
LPA_ITERS = 5
HITS_ITERS = 10
PPR_SEEDS = list(range(8))  # the link graph's hub vertices (linkgraph.N_HUBS)
TFIDF_K = 5
KATZ_ITERS = 10
KATZ_ALPHA = 0.005  # < 1/lambda_max on the gate graph (hub in-degree bound)
KATZ_BETA = 1.0
JACCARD_K = 20
POWERLAW_DMIN = 3
KTRUSS_K = 4
BETWEENNESS_ORACLE_DEPTH = 6  # hub BFS eccentricity at sf0.01 is 4; +2 margin
KTRUSS_ORACLE_ROUNDS = 12  # measured fixpoint at sf0.01 is 8; margin 4
WALK_LEN = 6
WALKS_PER_VERTEX = 2
SKIPGRAM_WINDOW = 2
SSSP_ORACLE_HOPS = 24  # >= 5 * hub BFS eccentricity (4): a weighted
# shortest path under the 1..5 weight law never needs more hops (a path
# longer than 5*h_bfs hops costs > the 5*h_bfs bound of the BFS path);
# the bound-is-noop property is pinned in tests
SEEDED_LPA_CLASSES = 4


# ---------------------------------------------------------------------------
# Spark-side queries
# ---------------------------------------------------------------------------

def q_degree_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = linkgraph.directed_edges(spark, sf_dir)
    return (
        e.groupBy("src")
        .agg(F.count(F.lit(1)).alias("out_deg"))
        .groupBy("out_deg")
        .agg(F.count(F.lit(1)).alias("n_vertices"))
    )


def q_top_in_degree(spark: SparkSession, sf_dir: str) -> DataFrame:
    # TakeOrderedAndProject top-k (per-partition heaps, k-row driver merge) —
    # never a global single-partition window.
    e = linkgraph.directed_edges(spark, sf_dir)
    return (
        e.groupBy(F.col("dst").alias("v"))
        .agg(F.count(F.lit(1)).alias("in_deg"))
        .orderBy(F.desc("in_deg"), F.asc("v"))
        .limit(20)
        .select("v", "in_deg")
    )


def q_cc(spark: SparkSession, sf_dir: str) -> DataFrame:
    und = linkgraph.undirected_edges(spark, sf_dir)
    verts = linkgraph.vertices(spark, sf_dir)
    return connected_components_exact(und, verts).select("v", "comp")


def q_cc_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        q_cc(spark, sf_dir)
        .groupBy("comp")
        .agg(F.count(F.lit(1)).alias("comp_size"))
    )


def q_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = linkgraph.directed_edges(spark, sf_dir)
    n = linkgraph.num_vertices(spark, sf_dir)
    verts = linkgraph.vertices(spark, sf_dir)
    pr = pagerank(e, verts, n, iters=PR_ITERS, damping=PR_DAMPING)
    return pr.select("v", F.round("pr_score", 6).alias("pr_score"))


def q_pagerank_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted PageRank: rank split proportional to edge weight
    (deterministic link-multiplicity law linkgraph.WEIGHT_SQL); same
    kernel, same shuffle count (graph/pagerank.py weight_col)."""
    e = linkgraph.weighted_directed_edges(spark, sf_dir)
    n = linkgraph.num_vertices(spark, sf_dir)
    verts = linkgraph.vertices(spark, sf_dir)
    pr = pagerank(e, verts, n, iters=PR_ITERS, damping=PR_DAMPING, weight_col="w")
    return pr.select("v", F.round("pr_score", 6).alias("pr_score"))


def q_pagerank_csr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CSR/treeAggregate SpMV PageRank (north-star required execution
    shape). Same semantics as q_pagerank — it shares that oracle, so the
    dense-regime path is hash-checked against DuckDB too, not just
    pytest-equal to the join path."""
    from landscape_spark.graph.csr import pagerank_csr

    e = linkgraph.directed_edges(spark, sf_dir)
    n = linkgraph.num_vertices(spark, sf_dir)
    pr = pagerank_csr(spark, e, n, iters=PR_ITERS, damping=PR_DAMPING)
    return pr.select("v", F.round("pr_score", 6).alias("pr_score"))


def q_pagerank_csr_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 2-D block-partitioned CSR PageRank (rank vector sharded like
    the matrix — the n > 10^8 regime where neither a driver-resident rank
    vector nor a vertex-sized broadcast fits). Same semantics as
    q_pagerank, so the fully-distributed path is hash-checked against the
    DuckDB oracle too, not just pytest-equal to the join path. Small shard
    count here (the gate graph is tiny); geometry is a knob, not a
    semantic."""
    from landscape_spark.graph.csr import pagerank_csr_blocked

    e = linkgraph.directed_edges(spark, sf_dir)
    n = linkgraph.num_vertices(spark, sf_dir)
    pr = pagerank_csr_blocked(
        spark, e, n, iters=PR_ITERS, damping=PR_DAMPING, shards=8, num_partitions=8
    )
    return pr.select("v", F.round("pr_score", 6).alias("pr_score"))


def q_personalized_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank personalized on the hub set {0..N_HUBS-1} — teleport and
    dangling mass land on the hubs instead of uniformly (the "pages
    reachable from / endorsed by the hubs" ranking a link-graph curation
    pipeline uses for seed-biased crawling)."""
    from landscape_spark.graph.pagerank import personalized_pagerank

    e = linkgraph.directed_edges(spark, sf_dir)
    n = linkgraph.num_vertices(spark, sf_dir)
    verts = linkgraph.vertices(spark, sf_dir)
    ppr = personalized_pagerank(
        e, verts, n, seeds=PPR_SEEDS, iters=PR_ITERS, damping=PR_DAMPING
    )
    return ppr.select("v", F.round("ppr_score", 6).alias("ppr_score"))


def q_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS hubs & authorities on the directed link graph (graph/hits.py:
    L1-normalized synchronous power iteration, join-path plan shape)."""
    from landscape_spark.graph.hits import hits

    e = linkgraph.directed_edges(spark, sf_dir)
    n = linkgraph.num_vertices(spark, sf_dir)
    verts = linkgraph.vertices(spark, sf_dir)
    h = hits(e, verts, n, iters=HITS_ITERS)
    return h.select(
        "v",
        F.round("authority", 6).alias("authority"),
        F.round("hub", 6).alias("hub"),
    )


def q_lpa(spark: SparkSession, sf_dir: str) -> DataFrame:
    und = linkgraph.undirected_edges(spark, sf_dir)
    verts = linkgraph.vertices(spark, sf_dir)
    return label_propagation(und, verts, iters=LPA_ITERS).select("v", "label")


def q_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    und = linkgraph.undirected_edges(spark, sf_dir)
    return triangle_count(und)


def q_triangles_per_vertex(spark: SparkSession, sf_dir: str) -> DataFrame:
    from landscape_spark.graph.triangles import triangles_per_vertex

    und = linkgraph.undirected_edges(spark, sf_dir)
    verts = linkgraph.vertices(spark, sf_dir)
    return triangles_per_vertex(und, verts)


def q_bfs_distances(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl-depth BFS: minimum hop count from the hub seed set along
    DIRECTED edges (graph/traversal.py frontier expansion — each edge
    fires once across the whole run)."""
    from landscape_spark.graph.traversal import bfs_distances

    e = linkgraph.directed_edges(spark, sf_dir)
    return bfs_distances(e, seeds=PPR_SEEDS).select("v", "dist")


def q_coreness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core decomposition via the distributed H-operator fixpoint
    (graph/kcore.py; fixpoint == coreness, Lü et al. 2016)."""
    from landscape_spark.graph.kcore import coreness

    und = linkgraph.undirected_edges(spark, sf_dir)
    verts = linkgraph.vertices(spark, sf_dir)
    return coreness(und, verts).select("v", "core")


def q_scc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strongly connected components on the directed graph (trim +
    forward-backward coloring, graph/scc.py) — the bow-tie primitive."""
    from landscape_spark.graph.scc import strongly_connected_components

    e = linkgraph.directed_edges(spark, sf_dir)
    verts = linkgraph.vertices(spark, sf_dir)
    return strongly_connected_components(e, verts).select("v", "comp")


def q_clustering_coefficient(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vertex local clustering coefficient (graph/triangles.py —
    rides the degree-oriented triangle machinery)."""
    from landscape_spark.graph.triangles import clustering_coefficient

    und = linkgraph.undirected_edges(spark, sf_dir)
    verts = linkgraph.vertices(spark, sf_dir)
    return clustering_coefficient(und, verts)


def q_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adamic–Adar link prediction: top-20 non-adjacent pairs by shared-
    neighborhood evidence (graph/linkpred.py; ranks on the rounded score
    so the sort key is the published value). Uncapped (exact) at gate
    scale; max_wedge_degree is the documented 100TB hub knob."""
    from landscape_spark.graph.linkpred import adamic_adar_topk

    und = linkgraph.undirected_edges(spark, sf_dir)
    return adamic_adar_topk(und, k=20)


HOST_MOD = 97  # synthetic page->host law (host = doc_id mod 97): the
# deterministic stand-in for url-host extraction, same law in the oracles


def q_harmonic_centrality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperBall harmonic centrality (graph/anf.py): per-vertex incoming
    geometric centrality off the same HLL ball recursion as HyperANF.
    Rows-only (sketch estimates); accuracy property-tested vs exact
    all-BFS harmonic sums."""
    from landscape_spark.graph.anf import harmonic_centrality

    e = linkgraph.directed_edges(spark, sf_dir)
    verts = linkgraph.vertices(spark, sf_dir)
    return harmonic_centrality(e, verts)


def q_host_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Page graph contracted to the host graph (graph/contract.py): two
    mapping joins + one aggregate; cross-host edges only, weight = link
    multiplicity."""
    from landscape_spark.graph.contract import contract_graph

    e = linkgraph.directed_edges(spark, sf_dir)
    verts = linkgraph.vertices(spark, sf_dir)
    mapping = verts.select("v", (F.col("v") % HOST_MOD).alias("unit"))
    return contract_graph(e, mapping)


def q_host_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composition the contraction exists for: weighted PageRank on
    the host graph — contract_graph output feeds pagerank(weight_col=)
    unchanged."""
    from landscape_spark.graph.contract import contract_graph

    e = linkgraph.directed_edges(spark, sf_dir)
    verts = linkgraph.vertices(spark, sf_dir)
    mapping = verts.select("v", (F.col("v") % HOST_MOD).alias("unit"))
    hg = contract_graph(e, mapping)
    hverts = mapping.select(F.col("unit").alias("v")).distinct()
    n_hosts = hverts.count()
    pr = pagerank(hg, hverts, n_hosts, iters=PR_ITERS, damping=PR_DAMPING,
                  weight_col="weight")
    return pr.select("v", F.round("pr_score", 6).alias("pr_score"))


def q_anf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperANF neighborhood function (graph/anf.py): per-vertex HLL ball
    counters max-merged along edges, one bounded shuffle per hop. Rows-
    only gate (no DuckDB xxhash64 twin) — deterministic output, accuracy
    property-tested against exact BFS ball sizes in test_graph_extra."""
    from landscape_spark.graph.anf import neighborhood_function

    e = linkgraph.directed_edges(spark, sf_dir)
    verts = linkgraph.vertices(spark, sf_dir)
    return neighborhood_function(e, verts)


def q_bowtie(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Broder bow-tie decomposition (graph/bowtie.py): CORE / IN / OUT /
    TENDRIL / DISCONNECTED per vertex — SCC + two frontier reachability
    sweeps + weak CC composed into one CASE projection."""
    from landscape_spark.graph.bowtie import bowtie_decomposition

    e = linkgraph.directed_edges(spark, sf_dir)
    und = linkgraph.undirected_edges(spark, sf_dir)
    verts = linkgraph.vertices(spark, sf_dir)
    return bowtie_decomposition(e, und, verts)


def q_reciprocity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edge reciprocity (graph/stats.py): one self-join + one aggregate."""
    from landscape_spark.graph.stats import reciprocity

    return reciprocity(linkgraph.directed_edges(spark, sf_dir))


def q_degree_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman degree assortativity on the undirected graph
    (graph/stats.py): degree-decorated edge ends, one global aggregate."""
    from landscape_spark.graph.stats import degree_assortativity

    return degree_assortativity(linkgraph.undirected_edges(spark, sf_dir))


def q_katz(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Katz centrality (graph/katz.py): attenuated walk counts into each
    page — the damped in-link prestige score that, unlike PageRank, gives
    full per-link credit. Fixed 10-iteration partial sum; oracle unrolls
    the identical recurrence."""
    from landscape_spark.graph.katz import katz_centrality

    e = linkgraph.directed_edges(spark, sf_dir)
    verts = linkgraph.vertices(spark, sf_dir)
    x = katz_centrality(e, verts, iters=KATZ_ITERS, alpha=KATZ_ALPHA, beta=KATZ_BETA)
    return x.select("v", F.round("katz", 6).alias("katz"))


def q_betweenness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-source Brandes betweenness from the hub pivot set
    (graph/betweenness.py) — the brokerage centrality, deterministic
    because the pivots are fixed. Oracle: both Brandes phases unrolled
    level-by-level ({BETWEENNESS_ORACLE_DEPTH} levels; the hub BFS
    eccentricity at sf0.01 is 4, and empty tail levels are exact no-ops
    since BFS levels are contiguous)."""
    from landscape_spark.graph.betweenness import betweenness_sources

    e = linkgraph.directed_edges(spark, sf_dir)
    verts = linkgraph.vertices(spark, sf_dir)
    return betweenness_sources(e, verts, sources=PPR_SEEDS)


def q_eigenvector(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eigenvector centrality (graph/katz.py eigenvector_centrality):
    L1-normalized power iteration on A^T — the no-teleport member of the
    centrality family. Oracle: HITS-authority-shaped unrolled CTEs."""
    from landscape_spark.graph.katz import eigenvector_centrality

    e = linkgraph.directed_edges(spark, sf_dir)
    n = linkgraph.num_vertices(spark, sf_dir)
    verts = linkgraph.vertices(spark, sf_dir)
    x = eigenvector_centrality(e, verts, n, iters=HITS_ITERS)
    return x.select("v", F.round("eigen", 6).alias("eigen"))


def q_rectangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Four-cycle / rectangle count (graph/motifs.py): the co-citation /
    link-farm motif one step up from triangles. Uncapped (exact) at gate
    scale; max_center_degree is the documented 100TB hub knob."""
    from landscape_spark.graph.motifs import rectangle_count

    und = linkgraph.undirected_edges(spark, sf_dir)
    return rectangle_count(und)


def q_jaccard_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neighborhood-Jaccard link prediction (graph/linkpred.py): top-20
    non-adjacent pairs by |N(a)∩N(b)| / |N(a)∪N(b)| — the link-structure
    near-duplicate detector beside Adamic–Adar's evidence score."""
    from landscape_spark.graph.linkpred import jaccard_topk

    und = linkgraph.undirected_edges(spark, sf_dir)
    return jaccard_topk(und, k=JACCARD_K)


def q_modularity_lpa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman–Girvan modularity of the engine's own LPA partition
    (graph/stats.py) — detect communities, then score the partition, one
    composed plan. The oracle recomputes LPA's unrolled CTE chain and the
    same Q formula."""
    from landscape_spark.graph.stats import modularity

    und = linkgraph.undirected_edges(spark, sf_dir)
    verts = linkgraph.vertices(spark, sf_dir)
    labels = label_propagation(und, verts, iters=LPA_ITERS).select("v", "label")
    return modularity(und, labels)


def q_degree_powerlaw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Power-law exponent of the in-degree tail (graph/stats.py, CSN
    continuous MLE) — the crawl-skew dial every web-graph report quotes
    next to the degree distribution."""
    from landscape_spark.graph.stats import degree_powerlaw_alpha

    e = linkgraph.directed_edges(spark, sf_dir)
    return degree_powerlaw_alpha(e, dmin=POWERLAW_DMIN)


def q_edge_support(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-edge triangle support (graph/truss.py) — rides the degree-
    oriented triangle enumeration; 0-support edges included."""
    from landscape_spark.graph.truss import edge_support

    und = linkgraph.undirected_edges(spark, sf_dir)
    return edge_support(und)


def q_ktruss(spark: SparkSession, sf_dir: str) -> DataFrame:
    """4-truss of the link graph (graph/truss.py synchronous peel —
    deterministic, converges in 8 rounds at sf0.01). The oracle unrolls
    the identical peel {KTRUSS_ORACLE_ROUNDS} rounds (fixpoint + margin;
    extra rounds are no-ops by idempotence — the coreness-oracle
    precedent)."""
    from landscape_spark.graph.truss import k_truss

    und = linkgraph.undirected_edges(spark, sf_dir)
    return k_truss(und, k=KTRUSS_K)


def q_triangle_sampled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DOULION sampled triangle count (graph/triangles.py) — the 100TB
    scale path: deterministic-hash edge sampling at p=1/4, exact count on
    the sample, p_inv^3 scale-up. Oracle replays the identical law."""
    from landscape_spark.graph.triangles import triangle_count_sampled

    und = linkgraph.undirected_edges(spark, sf_dir)
    return triangle_count_sampled(und, p_inv=4, seed=7)


def q_avg_neighbor_degree(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree-correlation curve knn(k) (graph/stats.py) — mean neighbor
    degree per degree class, the plot beside assortativity."""
    from landscape_spark.graph.stats import avg_neighbor_degree

    return avg_neighbor_degree(linkgraph.undirected_edges(spark, sf_dir))


def q_term_zipf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf exponent of the corpus term-frequency distribution
    (text/tfidf.py term_zipf_alpha) — the text-side twin of
    degree_powerlaw."""
    from landscape_spark.text.tfidf import term_zipf_alpha

    return term_zipf_alpha(
        spark.read.parquet(f"{sf_dir}/documents.parquet"), fmin=POWERLAW_DMIN
    )


def q_bucketed_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Storage-layer round trip through the driver contract: derive the
    edge table, WRITE it with the hash-bucketed partitioned writer
    (sources.py — the persisted co-location layout; Iceberg spec at
    deploy), read it back, and aggregate. Shares degree_distribution's
    oracle, so the persisted bytes are hash-checked end to end. The small
    degree histogram is materialized on the driver, so the table copy is
    removed before the gate returns."""
    import shutil
    import tempfile

    from landscape_spark import sources

    e = linkgraph.directed_edges(spark, sf_dir)
    # per-run unique dir: a fixed path in the shared tmp dir races with a
    # concurrent gate run on the same host (overwrite mid-read) and could
    # follow a pre-existing attacker-created path in world-writable /tmp
    tmp = tempfile.mkdtemp(prefix="landscape_gate_edge_table_")
    try:
        path = os.path.join(tmp, "edges")
        sources.write_edge_table(e, path)
        hist = (
            sources.read_edge_table(spark, path)
            .groupBy("src")
            .agg(F.count(F.lit(1)).alias("out_deg"))
            .groupBy("out_deg")
            .agg(F.count(F.lit(1)).alias("n_vertices"))
        )
        return spark.createDataFrame(hist.collect(), hist.schema)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def q_degree_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact discrete in-degree percentiles (graph/stats.py) — computed
    over the (degree, count) histogram, never a global sort of n values."""
    from landscape_spark.graph.stats import degree_percentiles

    return degree_percentiles(linkgraph.directed_edges(spark, sf_dir))


def q_cocitation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Co-citation top-20 (graph/linkpred.py): pairs most often linked-to
    by the same page (Small 1973) — the related-page signal. Uncapped at
    gate scale; max_center_degree is the 100TB knob."""
    from landscape_spark.graph.linkpred import cocitation_topk

    return cocitation_topk(linkgraph.directed_edges(spark, sf_dir), k=JACCARD_K)


def q_coupling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bibliographic-coupling top-20 (graph/linkpred.py): pairs that link
    to the most shared targets (Kessler 1963) — co-citation's dual."""
    from landscape_spark.graph.linkpred import coupling_topk

    return coupling_topk(linkgraph.directed_edges(spark, sf_dir), k=JACCARD_K)


def q_ngram_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide top-20 word bigrams (text/tfidf.py ngram_counts) — the
    n-gram count-table primitive behind contamination screens and
    boilerplate detection."""
    from landscape_spark.text.tfidf import ngram_counts

    return ngram_counts(
        spark.read.parquet(f"{sf_dir}/documents.parquet"), n=2, k=JACCARD_K
    )


def q_host_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-host corpus quality roll-up — the text x host-contraction
    composition a crawl-curation pipeline cuts on ("drop low-quality
    hosts wholesale"): quality_score per document, aggregated per host
    under the deterministic host law (HOST_MOD — the same law as the
    host_graph gates)."""
    from landscape_spark.text import analysis

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    q = analysis.quality_score(docs)
    return (
        q.select((F.col("doc_id") % HOST_MOD).alias("host"), "quality")
        .groupBy("host")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.avg("quality"), 6).alias("avg_quality"),
            F.round(F.min("quality"), 6).alias("min_quality"),
        )
    )


def q_salsa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SALSA hubs & authorities (graph/salsa.py): the Lempel–Moran
    stochastic walk behind who-to-follow systems — mass-conserving
    two-hop walks, no normalization step. Oracle: unrolled CTE chain."""
    from landscape_spark.graph.salsa import salsa

    e = linkgraph.directed_edges(spark, sf_dir)
    verts = linkgraph.vertices(spark, sf_dir)
    s = salsa(e, verts, iters=HITS_ITERS)
    return s.select(
        "v",
        F.round("authority", 6).alias("authority"),
        F.round("hub", 6).alias("hub"),
    )


def q_linkpred_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100TB path for jaccard_topk (graph/linkpred.py
    jaccard_lsh_topk): neighborhood-MinHash signatures (one shuffle) ->
    one-scan LSH banding -> exact verify of candidates only. Rows-only
    (xxhash64 candidate generation); scores of returned pairs are
    bit-equal to the exact path's and recall is measured in tests
    (0.95@20 at sf0.01 with the default 16x2 banding)."""
    from landscape_spark.graph.linkpred import jaccard_lsh_topk

    und = linkgraph.undirected_edges(spark, sf_dir)
    return jaccard_lsh_topk(und, k=JACCARD_K)


def q_node2vec(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Second-order node2vec walks (graph/walks.py node2vec_walks,
    p=4 / q=1/4 — the exploration-biased setting): the KDD'16 sampling
    strategy behind most production graph embeddings. Power-of-two p,q
    make every weight exact in doubles, so the deterministic draw is
    replayed bit-for-bit by the unrolled oracle."""
    from landscape_spark.graph.walks import node2vec_walks

    e = linkgraph.directed_edges(spark, sf_dir)
    verts = linkgraph.vertices(spark, sf_dir)
    return node2vec_walks(
        e, verts, walk_len=WALK_LEN, walks_per_vertex=1, p=4.0, q=0.25
    )


def q_sssp_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted shortest paths from the hub seeds (graph/traversal.py
    frontier Bellman–Ford) under the deterministic 1..5 link-cost law —
    exact int64 distances, the crawl-cost generalization of
    bfs_distances. Oracle: bounded recursive walk + MIN(d)."""
    from landscape_spark.graph.traversal import sssp_weighted

    e = linkgraph.weighted_directed_edges(spark, sf_dir)
    return sssp_weighted(e, seeds=PPR_SEEDS, weight_col="w").select("v", "dist")


def q_seeded_lpa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-supervised label spreading from the hub seeds (4 topic
    classes, label = hub mod 4) — the TrustRank-shaped 'propagate labels
    from hand-labeled pages' primitive (graph/lpa.py
    seeded_label_propagation; seeds clamped, majority vote over LABELED
    neighbors only, NULL until reached)."""
    from landscape_spark.graph.lpa import seeded_label_propagation

    und = linkgraph.undirected_edges(spark, sf_dir)
    verts = linkgraph.vertices(spark, sf_dir)
    seeds = verts.where(F.col("v") < len(PPR_SEEDS)).select(
        "v", (F.col("v") % SEEDED_LPA_CLASSES).alias("label")
    )
    return seeded_label_propagation(und, verts, seeds, iters=LPA_ITERS).select(
        "v", "label"
    )


def q_random_walks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic DeepWalk-style random walks (graph/walks.py): 2 walks
    of 6 hops from every vertex under the public LCG hop law — the
    graph-embedding corpus generator. The oracle replays the identical
    law over the same dst-ranked adjacency."""
    from landscape_spark.graph.walks import random_walks

    e = linkgraph.directed_edges(spark, sf_dir)
    verts = linkgraph.vertices(spark, sf_dir)
    return random_walks(
        e, verts, walk_len=WALK_LEN, walks_per_vertex=WALKS_PER_VERTEX
    )


def q_skipgram_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skip-gram positive pairs over the walk corpus (graph/walks.py):
    (center, context, n_pairs) within a 2-position forward window — the
    artifact an embedding trainer actually consumes."""
    from landscape_spark.graph.walks import random_walks, skipgram_pairs

    e = linkgraph.directed_edges(spark, sf_dir)
    verts = linkgraph.vertices(spark, sf_dir)
    w = random_walks(e, verts, walk_len=WALK_LEN, walks_per_vertex=WALKS_PER_VERTEX)
    return skipgram_pairs(w, window=SKIPGRAM_WINDOW)


def q_knn_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    from landscape_spark.sim.knn import knn_label_majority

    return knn_label_majority(spark.read.parquet(f"{sf_dir}/embeddings.parquet"), k=5)


def q_cc_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-based Boruvka CC (the reference's production query path,
    /root/reference/src/graph_distrib_update.cpp:105-154). Exact w.h.p.;
    oracle-checked against the same SQL as the exact path."""
    from landscape_spark.sketch.boruvka import (
        components_with_isolated,
        connected_components_sketch,
    )

    und = linkgraph.undirected_edges(spark, sf_dir)
    n = linkgraph.num_vertices(spark, sf_dir)
    vmap = connected_components_sketch(spark, und, n)
    return components_with_isolated(spark, vmap, linkgraph.vertices(spark, sf_dir))


GRAPH_QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "degree_distribution": q_degree_distribution,
    "top_in_degree": q_top_in_degree,
    "cc": q_cc,
    "cc_sketch": q_cc_sketch,
    "cc_sizes": q_cc_sizes,
    "pagerank": q_pagerank,
    "pagerank_csr": q_pagerank_csr,
    "pagerank_csr_blocked": q_pagerank_csr_blocked,
    "personalized_pagerank": q_personalized_pagerank,
    "hits": q_hits,
    "pagerank_weighted": q_pagerank_weighted,
    "lpa": q_lpa,
    "triangle_count": q_triangle_count,
    "triangles_per_vertex": q_triangles_per_vertex,
    "bfs_distances": q_bfs_distances,
    "coreness": q_coreness,
    "scc": q_scc,
    "clustering_coefficient": q_clustering_coefficient,
    "link_prediction_topk": q_link_prediction,
    "bowtie": q_bowtie,
    "reciprocity": q_reciprocity,
    "degree_assortativity": q_degree_assortativity,
    "katz": q_katz,
    "eigenvector": q_eigenvector,
    "betweenness": q_betweenness,
    "rectangle_count": q_rectangle_count,
    "jaccard_topk": q_jaccard_topk,
    "modularity_lpa": q_modularity_lpa,
    "degree_powerlaw": q_degree_powerlaw,
    "edge_support": q_edge_support,
    "ktruss": q_ktruss,
    "random_walks": q_random_walks,
    "skipgram_pairs": q_skipgram_pairs,
    "node2vec_walks": q_node2vec,
    "sssp_weighted": q_sssp_weighted,
    "seeded_lpa": q_seeded_lpa,
    "salsa": q_salsa,
    "host_quality": q_host_quality,
    "avg_neighbor_degree": q_avg_neighbor_degree,
    "degree_percentiles": q_degree_percentiles,
    "bucketed_roundtrip": q_bucketed_roundtrip,
    "triangle_count_sampled": q_triangle_sampled,
    "cocitation_topk": q_cocitation,
    "coupling_topk": q_coupling,
    "linkpred_lsh_topk": q_linkpred_lsh,  # rows-only: xxhash64 LSH candidates
    "anf_neighborhood": q_anf,  # rows-only: HLL-sketch estimates (hash-seeded)
    "host_graph": q_host_graph,
    "host_pagerank": q_host_pagerank,
    "harmonic_centrality": q_harmonic_centrality,  # rows-only: HLL estimates
}

EXTRA_QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}


# ---------------------------------------------------------------------------
# Text / dedup / similarity queries (training-data pipeline layer)
# ---------------------------------------------------------------------------

def q_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from landscape_spark.text import analysis

    return analysis.with_token_stats(spark.read.parquet(f"{sf_dir}/documents.parquet"))


def q_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document top-k TF-IDF terms (text/tfidf.py; ranks on the rounded
    score with term as the tie-break so the sort key IS the published
    value — see the module docstring's cross-engine note)."""
    from landscape_spark.text.tfidf import tfidf_topk

    return tfidf_topk(spark.read.parquet(f"{sf_dir}/documents.parquet"), k=TFIDF_K)


def q_term_postings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-index dictionary statistics per term (df, collection
    frequency, posting span) — the stats side of an index build."""
    from landscape_spark.text.tfidf import term_postings

    return term_postings(spark.read.parquet(f"{sf_dir}/documents.parquet"))


def q_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from landscape_spark.text import analysis

    return analysis.quality_score(spark.read.parquet(f"{sf_dir}/documents.parquet"))


def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    from landscape_spark.text import analysis

    return analysis.lang_id(spark.read.parquet(f"{sf_dir}/documents.parquet"))


def q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    from landscape_spark.text import analysis

    return analysis.fingerprint(spark.read.parquet(f"{sf_dir}/documents.parquet"))


def q_bpe_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-ish pre-tokenization token counts (GPT-2 pre-tokenizer shape in
    the Java/RE2 common regex subset) — the corpus token-budget estimator."""
    from landscape_spark.text import analysis

    return analysis.bpe_token_count(
        spark.read.parquet(f"{sf_dir}/documents.parquet")
    )


def q_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher/MassiveText-style repetition quality signals (word-level:
    duplicate-word fraction + top-bigram fraction) — pure JVM projection,
    fully oracle-checked."""
    from landscape_spark.text import analysis

    return analysis.repetition_signals(
        spark.read.parquet(f"{sf_dir}/documents.parquet")
    )


PII_INJECT_SQL = (
    "SELECT doc_id, text || ' reach user' || CAST(doc_id AS VARCHAR)"
    " || '@example.com via 10.' || CAST(doc_id % 200 AS VARCHAR)"
    " || '.0.' || CAST(doc_id % 250 AS VARCHAR) AS text FROM documents"
)


def q_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction over a deterministically PII-injected corpus (the
    synthetic documents contain no contact info, so the gate plants one
    email + one IPv4 per doc — identically on both engines — to make the
    rewrite non-trivial). Clean text is md5'd to keep compare rows small."""
    from landscape_spark.text.pii import pii_scrub

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    injected = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" reach user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com via 10."),
            (F.col("doc_id") % 200).cast("string"),
            F.lit(".0."),
            (F.col("doc_id") % 250).cast("string"),
        ).alias("text"),
    )
    return pii_scrub(injected).select(
        "doc_id",
        "n_emails",
        "n_ips",
        "n_phones",
        F.md5(F.col("clean_text").cast("binary")).alias("clean_fp"),
    )


URL_INJECT_SQL = (
    "SELECT doc_id, CASE doc_id % 4"
    " WHEN 0 THEN 'HTTP://Site' || CAST(doc_id % 64 AS VARCHAR)"
    "   || '.Example.COM:80/p/' || CAST(doc_id AS VARCHAR)"
    "   || '?utm_source=x&id=' || CAST(doc_id AS VARCHAR)"
    " WHEN 1 THEN 'https://site' || CAST(doc_id % 64 AS VARCHAR)"
    "   || '.example.com:443/a/b/' || CAST(doc_id AS VARCHAR)"
    "   || '/?id=' || CAST(doc_id AS VARCHAR) || '&utm_campaign=y#frag'"
    " WHEN 2 THEN 'https://Site' || CAST(doc_id % 64 AS VARCHAR)"
    "   || '.example.com/p/' || CAST(doc_id AS VARCHAR) || '/'"
    " ELSE 'http://site' || CAST(doc_id % 64 AS VARCHAR)"
    "   || '.example.com/p/' || CAST(doc_id AS VARCHAR) || '?gclid=abc'"
    " END AS url FROM documents"
)


def q_url_canonicalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization (text/urls.py) over a deterministically
    messy injected url per document (mixed case, default ports, tracking
    params, fragments, trailing slashes — identically injected on both
    engines, the pii_scrub convention): the crawl-frontier cleanup pass
    every url-keyed join depends on."""
    from landscape_spark.text.urls import canonicalize_urls

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    sid = (F.col("doc_id") % 64).cast("string")
    did = F.col("doc_id").cast("string")
    url = (
        F.when(
            F.col("doc_id") % 4 == 0,
            F.concat(F.lit("HTTP://Site"), sid, F.lit(".Example.COM:80/p/"),
                     did, F.lit("?utm_source=x&id="), did),
        )
        .when(
            F.col("doc_id") % 4 == 1,
            F.concat(F.lit("https://site"), sid, F.lit(".example.com:443/a/b/"),
                     did, F.lit("/?id="), did, F.lit("&utm_campaign=y#frag")),
        )
        .when(
            F.col("doc_id") % 4 == 2,
            F.concat(F.lit("https://Site"), sid, F.lit(".example.com/p/"),
                     did, F.lit("/")),
        )
        .otherwise(
            F.concat(F.lit("http://site"), sid, F.lit(".example.com/p/"),
                     did, F.lit("?gclid=abc")),
        )
    )
    return canonicalize_urls(docs.select("doc_id", url.alias("url")))


def q_frontier_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl-frontier dedup on CANONICAL urls — the composition
    url_canonicalize exists for: the injection law gives every page pair
    (2k, 2k+1) two DIFFERENT raw urls (case/port/tracking vs
    fragment/trailing-slash variants) that canonicalize to the SAME url;
    the dedup groups by canon_url and keeps the min doc_id. Output:
    (canon_url, n_aliases, keep_id) — every group has exactly 2 aliases
    by construction, which the oracle checks value-for-value."""
    from landscape_spark.text.urls import canonicalize_urls

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    pid = F.expr("doc_id DIV 2").cast("string")
    sid = (F.expr("doc_id DIV 2") % 64).cast("string")
    url = F.when(
        F.col("doc_id") % 2 == 0,
        F.concat(F.lit("HTTP://Site"), sid, F.lit(".Example.COM:80/p/"),
                 pid, F.lit("?utm_source=a")),
    ).otherwise(
        F.concat(F.lit("http://Site"), sid, F.lit(".example.com/p/"),
                 pid, F.lit("/#top")),
    )
    c = canonicalize_urls(docs.select("doc_id", url.alias("url")))
    return (
        c.groupBy("canon_url")
        .agg(
            F.count(F.lit(1)).alias("n_aliases"),
            F.min("doc_id").alias("keep_id"),
        )
    )


def q_curate_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end-to-end curation pipeline a training-data run executes,
    composed from the engine's own operators — exact dedup (keep min-id
    representative) -> quality floor -> repetition ceiling -> deterministic
    sample — returning the surviving corpus. Each stage is individually
    oracle-checked elsewhere; this gate checks the COMPOSITION (one
    DataFrame plan end to end: the filters are joins/predicates over
    single-scan projections, no Python anywhere)."""
    from landscape_spark.text import analysis, dedup
    from landscape_spark.text.corpus import deterministic_sample

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    reps = dedup.exact_duplicates(docs).where(
        F.col("keep_id") == F.col("doc_id")
    ).select("doc_id")
    good = analysis.quality_score(docs).where(F.col("quality") >= 0.3).select("doc_id")
    tame = (
        analysis.repetition_signals(docs)
        .where(F.col("dup_word_frac") <= 0.65)
        .select("doc_id")
    )
    kept = (
        docs.join(reps, on="doc_id", how="left_semi")
        .join(good, on="doc_id", how="left_semi")
        .join(tame, on="doc_id", how="left_semi")
    )
    return deterministic_sample(kept, 0.8).select("doc_id")


def _curate_corpus_sql() -> str:
    from landscape_spark.text import analysis
    from landscape_spark.text.corpus import deterministic_sample_sql

    sample = deterministic_sample_sql(0.8).strip()
    return f"""
WITH reps AS (
  SELECT doc_id FROM (
    SELECT doc_id, MIN(doc_id) OVER (PARTITION BY md5(text)) AS keep_id
    FROM documents
  ) WHERE doc_id = keep_id
),
good AS (SELECT doc_id FROM ({analysis.QUALITY_SQL}) WHERE quality >= 0.3),
tame AS (SELECT doc_id FROM ({analysis.REPETITION_SQL}) WHERE dup_word_frac <= 0.65),
sampled AS ({sample})
SELECT d.doc_id AS doc_id
FROM documents d
JOIN reps USING (doc_id)
JOIN good USING (doc_id)
JOIN tame USING (doc_id)
JOIN sampled USING (doc_id)
"""


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from landscape_spark.text import dedup

    return dedup.exact_duplicates(spark.read.parquet(f"{sf_dir}/documents.parquet"))


def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    from landscape_spark.text import dedup

    return dedup.ngram_jaccard_pairs(
        spark.read.parquet(f"{sf_dir}/documents.parquet"), threshold=0.5
    )


def q_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    from landscape_spark.text import dedup

    return dedup.minhash_lsh_dedup(
        spark.read.parquet(f"{sf_dir}/documents.parquet"), threshold=0.8
    )


def q_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """max_hamming=8 is BEST-EFFORT beyond distance 3 (multi-table block
    geometry guarantees detection only for d <= 3 by pigeonhole — see
    simhash_near_pairs); kept at 8 here for continuity of the gate's
    recorded row counts. At gate N the auto geometry resolves to the
    classic 4 tables x 16-bit blocks, so the recorded best-effort rows are
    byte-identical to rounds 1-4; at warehouse N it widens to 20+ tables
    on 30+-bit keys (Manku WWW'07 shape), keeping candidate volume ~linear
    in N instead of ~N^2/2^16."""
    from landscape_spark.text import dedup

    return dedup.simhash_near_pairs(
        spark.read.parquet(f"{sf_dir}/documents.parquet"), max_hamming=8
    )


def q_dedup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairs -> groups -> keeper: connected components over the exact
    n-gram-Jaccard dup-pair graph, min-id keeper per group (the operation a
    training-data pipeline actually executes with near-dup pairs; every
    pair family feeds the same composition). Fully oracle-checked: the
    DuckDB side recomputes the pairs and closes them with a recursive CTE."""
    from landscape_spark.text import dedup

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    pairs = dedup.ngram_jaccard_pairs(docs, threshold=0.5)
    return dedup.near_dup_groups(docs, pairs)


def q_dedup_substring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substring-level dedup (Lee et al. ACL'22 shape): pairs sharing >= 2
    sampled 64-byte window fingerprints — partial containment that
    document-level near-dup misses. Rows-only in the gate (the content-
    sampled rolling-hash selection is not SQL-expressible); exactness and
    the planted-substring detection guarantee are property-tested in
    tests/test_substring.py."""
    from landscape_spark.text.substring import substring_duplicate_pairs

    return substring_duplicate_pairs(
        spark.read.parquet(f"{sf_dir}/documents.parquet"),
        window=64,
        select_mod=8,
        min_shared=2,
    )


def q_dedup_groups_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-family dup groups — the documented headline use of
    near_dup_groups: union the MinHash-LSH, SimHash, and substring-
    fingerprint pair families (each catches a class the others miss:
    token-level near-dups / bag-of-words perturbations-and-reorders /
    partial containment) and close them into transitive groups with a
    global min-id keeper. Rows-only in the gate (two of the three families
    are hash-randomized and not SQL-expressible); the planted cross-family
    chain — a substring-exclusive bridge and an order-invariance bridge
    ending in ONE group — is property-tested in
    tests/test_text_extra.py::test_near_dup_groups_cross_family_union."""
    from landscape_spark.text import dedup
    from landscape_spark.text.substring import substring_duplicate_pairs

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    mh = dedup.minhash_lsh_dedup(docs, threshold=0.8).select("doc_lo", "doc_hi")
    sp = dedup.simhash_near_pairs(docs, max_hamming=8).select("doc_lo", "doc_hi")
    sub = substring_duplicate_pairs(
        docs, window=64, select_mod=8, min_shared=2
    ).select("doc_lo", "doc_hi")
    return dedup.near_dup_groups(docs, mh.unionAll(sp).unionAll(sub))


CORPUS_FRACTIONS = {"en": 0.9, "zh": 0.5, "de": 0.25, "fr": 0.1}


def q_corpus_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified corpus sampling (mixing weights per lang).
    Content-keyed md5 thresholding: the selected row set is invariant to
    partitioning / cluster size / row order — unlike df.sample, whose
    per-partition seeding changes the sample whenever the layout does —
    and the md5 is engine-portable, so the oracle is exact."""
    from landscape_spark.text.corpus import stratified_sample

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return stratified_sample(
        docs, CORPUS_FRACTIONS, strata_col="lang", default_fraction=0.3
    ).select("doc_id")


def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/eval decontamination: flag training docs sharing any exact
    64-char n-gram with the benchmark set (here: every 20th doc, standing
    in for an eval suite). The benchmark n-gram side is tiny and
    hash-joins against one scan of the corpus shingle stream."""
    from landscape_spark.text.corpus import decontaminate

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    bench = docs.where(F.col("doc_id") % 20 == 0)
    return decontaminate(docs, bench, n=64)


def q_embdup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs (the vector-space dedup operator).
    Exact broadcast-BLAS path at gate scale (oracle-matched all-pairs); the
    LSH-candidate path takes over above BROADCAST_THRESHOLD rows
    (recall-tested in tests/test_ann.py)."""
    from landscape_spark.sim.embdup import embedding_near_dup_pairs

    return embedding_near_dup_pairs(
        spark.read.parquet(f"{sf_dir}/embeddings.parquet"), threshold=0.35
    )


def q_embdup_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-blocked near-dup pairs — the scale path for LOW-cosine thresholds
    (hyperplane LSH is unselective there; embedding_near_dup_lsh warns and
    routes here). Rows-only in the gate (k-means cells are not
    SQL-expressible); precision is 1.0 by exact rescore and recall is
    measured on planted moderate-cosine pairs in tests/test_ann.py."""
    from landscape_spark.sim.embdup import embedding_near_dup_ivf

    return embedding_near_dup_ivf(
        spark.read.parquet(f"{sf_dir}/embeddings.parquet"),
        threshold=0.35,
        n_cells=16,
        nprobe=4,
    )


def q_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from landscape_spark.sim import ann

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qvec = [float(x) for x in emb.where("vec_id = 0").first()["embedding"]]
    return ann.brute_force_topk(emb, qvec, k=10)


def q_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-shot LSH top-k: the inline (uncached) path — prebuilding cached
    signature tables only pays off across REPEATED queries, and a cached
    table a gate run never reuses is a per-invocation executor-memory leak.
    The reuse API (lsh_signature_tables + sigs=) is exercised and
    equality-tested in tests/test_ann.py."""
    from landscape_spark.sim import ann

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qvec = [float(x) for x in emb.where("vec_id = 0").first()["embedding"]]
    return ann.lsh_topk(emb, qvec, k=10, n_planes=8, n_tables=6)


def q_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-probed approximate top-k (rows-only: k-means cells are not
    SQL-expressible; recall vs brute force tested in tests/test_ann.py)."""
    from landscape_spark.sim import ann

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qvec = [float(x) for x in emb.where("vec_id = 0").first()["embedding"]]
    return ann.ivf_topk(emb, qvec, k=10, n_cells=16, nprobe=6)


TEXT_QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "token_stats": q_token_stats,
    "tfidf_topk": q_tfidf_topk,
    "term_postings": q_term_postings,
    "ngram_counts": q_ngram_counts,
    "term_zipf": q_term_zipf,
    "quality_score": q_quality,
    "lang_id": q_lang_id,
    "doc_fingerprint": q_fingerprint,
    "repetition_signals": q_repetition,
    "bpe_token_count": q_bpe_tokens,
    "pii_scrub": q_pii_scrub,
    "curate_corpus": q_curate_corpus,
    "url_canonicalize": q_url_canonicalize,
    "frontier_dedup": q_frontier_dedup,
    "dedup_exact": q_dedup_exact,
    "dedup_ngram_jaccard": q_ngram_jaccard,
    "dedup_minhash_lsh": q_minhash_lsh,  # rows-only: candidate-gen is hash-based
    "dedup_groups": q_dedup_groups,
    "dedup_groups_multi": q_dedup_groups_multi,  # rows-only: union of hash-based families
    "dedup_substring": q_dedup_substring,  # rows-only: sampled rolling-hash selection
    "corpus_sample_stratified": q_corpus_sample,
    "decontaminate": q_decontaminate,
    "dedup_embedding_cosine": q_embdup,
    "dedup_embedding_ivf": q_embdup_ivf,  # rows-only: k-means blocking
    "simhash_pairs": q_simhash_pairs,  # rows-only: 64-bit simhash not SQL-expressible
    "ann_cosine_topk": q_ann_topk,
    "ann_lsh_topk": q_ann_lsh,  # rows-only: approximate by design
    "ann_ivf_topk": q_ann_ivf,  # rows-only: approximate by design
    "knn_label": q_knn_label,
}


# ---------------------------------------------------------------------------
# DuckDB oracle SQL
# ---------------------------------------------------------------------------

def _sym_cte() -> str:
    return (
        "lg_sym AS (SELECT a AS v, b AS w FROM lg_undirected "
        "UNION ALL SELECT b AS v, a AS w FROM lg_undirected)"
    )


def _pagerank_sql(iters: int = PR_ITERS, d: float = PR_DAMPING) -> str:
    # every iteration CTE references its predecessor more than once; DuckDB
    # inlines CTEs by default which would expand the 20-step chain
    # exponentially — MATERIALIZED pins each step to evaluate once.
    parts = [
        linkgraph.EDGES_CTE.strip().rstrip(","),
        "pr_deg AS MATERIALIZED (SELECT src, COUNT(*) AS out_deg FROM lg_edges GROUP BY src)",
        "r0 AS MATERIALIZED (SELECT v, 1.0 / (SELECT n FROM lg_n) AS r FROM lg_vertices)",
    ]
    for t in range(1, iters + 1):
        prev = f"r{t - 1}"
        parts.append(
            f"""r{t} AS MATERIALIZED (
  SELECT lv.v AS v,
         (1 - {d}) / (SELECT n FROM lg_n)
         + {d} * (
             COALESCE(c.c, 0)
             + (SELECT COALESCE(SUM(r), 0) FROM {prev}
                WHERE v NOT IN (SELECT src FROM pr_deg)) / (SELECT n FROM lg_n)
           ) AS r
  FROM lg_vertices lv
  LEFT JOIN (
    SELECT e.dst AS v, SUM(p.r / dg.out_deg) AS c
    FROM lg_edges e
    JOIN {prev} p ON p.v = e.src
    JOIN pr_deg dg ON dg.src = e.src
    GROUP BY e.dst
  ) c ON c.v = lv.v
)"""
        )
    ctes = ",\n".join(parts)
    return f"WITH {ctes}\nSELECT v, ROUND(r, 6) AS pr_score FROM r{iters}"


def _pagerank_weighted_sql(iters: int = PR_ITERS, d: float = PR_DAMPING) -> str:
    """Weighted-PageRank oracle: same unrolled MATERIALIZED-CTE shape as
    _pagerank_sql with contribution r·w/W(src); the weight law is
    linkgraph.WEIGHT_SQL on both engines."""
    w = linkgraph.WEIGHT_SQL
    parts = [
        linkgraph.EDGES_CTE.strip().rstrip(","),
        f"prw_e AS MATERIALIZED (SELECT src, dst, {w} AS w FROM lg_edges)",
        "prw_deg AS MATERIALIZED (SELECT src, SUM(w) AS out_deg FROM prw_e GROUP BY src)",
        "w0 AS MATERIALIZED (SELECT v, 1.0 / (SELECT n FROM lg_n) AS r FROM lg_vertices)",
    ]
    for t in range(1, iters + 1):
        prev = f"w{t - 1}"
        parts.append(
            f"""w{t} AS MATERIALIZED (
  SELECT lv.v AS v,
         (1 - {d}) / (SELECT n FROM lg_n)
         + {d} * (
             COALESCE(c.c, 0)
             + (SELECT COALESCE(SUM(r), 0) FROM {prev}
                WHERE v NOT IN (SELECT src FROM prw_deg)) / (SELECT n FROM lg_n)
           ) AS r
  FROM lg_vertices lv
  LEFT JOIN (
    SELECT e.dst AS v, SUM(p.r * e.w / dg.out_deg) AS c
    FROM prw_e e
    JOIN {prev} p ON p.v = e.src
    JOIN prw_deg dg ON dg.src = e.src
    GROUP BY e.dst
  ) c ON c.v = lv.v
)"""
        )
    ctes = ",\n".join(parts)
    return f"WITH {ctes}\nSELECT v, ROUND(r, 6) AS pr_score FROM w{iters}"


def _ppr_sql(iters: int = PR_ITERS, d: float = PR_DAMPING) -> str:
    """Personalized PageRank oracle: teleport vector p = uniform over the
    seed set (PPR_SEEDS = hubs 0..7), dangling mass redistributed by p.
    Same unrolled MATERIALIZED-CTE shape as _pagerank_sql."""
    seeds = ", ".join(str(s) for s in PPR_SEEDS)
    parts = [
        linkgraph.EDGES_CTE.strip().rstrip(","),
        "pr_deg AS MATERIALIZED (SELECT src, COUNT(*) AS out_deg FROM lg_edges GROUP BY src)",
        (
            "pp AS MATERIALIZED (SELECT v, CASE WHEN v IN ({seeds}) "
            "THEN 1.0 / {k} ELSE 0.0 END AS p FROM lg_vertices)"
        ).format(seeds=seeds, k=len(PPR_SEEDS)),
        "r0 AS MATERIALIZED (SELECT v, p AS r FROM pp)",
    ]
    for t in range(1, iters + 1):
        prev = f"r{t - 1}"
        parts.append(
            f"""r{t} AS MATERIALIZED (
  SELECT pp.v AS v,
         (1 - {d}) * pp.p
         + {d} * (
             COALESCE(c.c, 0)
             + (SELECT COALESCE(SUM(r), 0) FROM {prev}
                WHERE v NOT IN (SELECT src FROM pr_deg)) * pp.p
           ) AS r
  FROM pp
  LEFT JOIN (
    SELECT e.dst AS v, SUM(p.r / dg.out_deg) AS c
    FROM lg_edges e
    JOIN {prev} p ON p.v = e.src
    JOIN pr_deg dg ON dg.src = e.src
    GROUP BY e.dst
  ) c ON c.v = pp.v
)"""
        )
    ctes = ",\n".join(parts)
    return f"WITH {ctes}\nSELECT v, ROUND(r, 6) AS ppr_score FROM r{iters}"


def _hits_sql(iters: int = HITS_ITERS) -> str:
    """HITS oracle: L1-normalized half-steps, unrolled (graph/hits.py
    fixes the semantics; the norm guard makes an edgeless graph all-zero
    instead of dividing by zero)."""
    parts = [
        linkgraph.EDGES_CTE.strip().rstrip(","),
        "h0 AS MATERIALIZED (SELECT v, 1.0 / (SELECT n FROM lg_n) AS s FROM lg_vertices)",
    ]
    for t in range(1, iters + 1):
        parts.append(
            f"""a{t}_raw AS MATERIALIZED (
  SELECT e.dst AS v, SUM(h.s) AS c
  FROM lg_edges e JOIN h{t - 1} h ON h.v = e.src
  GROUP BY e.dst
)"""
        )
        parts.append(
            f"""a{t} AS MATERIALIZED (
  SELECT lv.v AS v,
         CASE WHEN (SELECT COALESCE(SUM(c), 0) FROM a{t}_raw) > 0
              THEN COALESCE(ar.c, 0) / (SELECT SUM(c) FROM a{t}_raw)
              ELSE 0.0 END AS s
  FROM lg_vertices lv LEFT JOIN a{t}_raw ar ON ar.v = lv.v
)"""
        )
        parts.append(
            f"""h{t}_raw AS MATERIALIZED (
  SELECT e.src AS v, SUM(a.s) AS c
  FROM lg_edges e JOIN a{t} a ON a.v = e.dst
  GROUP BY e.src
)"""
        )
        parts.append(
            f"""h{t} AS MATERIALIZED (
  SELECT lv.v AS v,
         CASE WHEN (SELECT COALESCE(SUM(c), 0) FROM h{t}_raw) > 0
              THEN COALESCE(hr.c, 0) / (SELECT SUM(c) FROM h{t}_raw)
              ELSE 0.0 END AS s
  FROM lg_vertices lv LEFT JOIN h{t}_raw hr ON hr.v = lv.v
)"""
        )
    ctes = ",\n".join(parts)
    return (
        f"WITH {ctes}\n"
        f"SELECT a.v AS v, ROUND(a.s, 6) AS authority, ROUND(h.s, 6) AS hub\n"
        f"FROM a{iters} a JOIN h{iters} h ON h.v = a.v"
    )


def _lpa_parts(iters: int = LPA_ITERS) -> tuple[list[str], str]:
    """The LPA oracle's CTE chain + the name of its final label table —
    shared by the lpa gate and the modularity composition gate."""
    parts = [
        linkgraph.EDGES_CTE.strip().rstrip(","),
        _sym_cte().replace("lg_sym AS (", "lg_sym AS MATERIALIZED (", 1),
        "l0 AS MATERIALIZED (SELECT v, v AS label FROM lg_vertices)",
    ]
    for t in range(1, iters + 1):
        prev = f"l{t - 1}"
        parts.append(
            f"""l{t} AS MATERIALIZED (
  SELECT cur.v AS v, COALESCE(b.new_label, cur.label) AS label
  FROM {prev} cur
  LEFT JOIN (
    SELECT v, label AS new_label FROM (
      SELECT s.v AS v, l.label AS label, COUNT(*) AS cnt
      FROM lg_sym s JOIN {prev} l ON l.v = s.w
      GROUP BY s.v, l.label
    ) t
    QUALIFY ROW_NUMBER() OVER (PARTITION BY v ORDER BY cnt DESC, label ASC) = 1
  ) b ON b.v = cur.v
)"""
        )
    return parts, f"l{iters}"


def _lpa_sql(iters: int = LPA_ITERS) -> str:
    parts, final = _lpa_parts(iters)
    ctes = ",\n".join(parts)
    return f"WITH {ctes}\nSELECT v, label FROM {final}"


def _katz_sql(iters: int = KATZ_ITERS, alpha: float = KATZ_ALPHA,
              beta: float = KATZ_BETA) -> str:
    """Katz oracle: the identical fixed-iteration recurrence unrolled
    (graph/katz.py fixes the semantics — x_0 = beta, full per-link
    credit, no degree normalization)."""
    # CAST the literals: DuckDB parses bare decimal-point literals as
    # DECIMAL, which would run the whole recurrence in decimal arithmetic
    # (Spark's is double) and publish DECIMAL-typed results
    b, a = f"CAST({beta} AS DOUBLE)", f"CAST({alpha} AS DOUBLE)"
    parts = [
        linkgraph.EDGES_CTE.strip().rstrip(","),
        f"k0 AS MATERIALIZED (SELECT v, {b} AS x FROM lg_vertices)",
    ]
    for t in range(1, iters + 1):
        parts.append(
            f"""k{t} AS MATERIALIZED (
  SELECT lv.v AS v, {b} + {a} * COALESCE(c.c, 0) AS x
  FROM lg_vertices lv
  LEFT JOIN (
    SELECT e.dst AS v, SUM(k.x) AS c
    FROM lg_edges e JOIN k{t - 1} k ON k.v = e.src
    GROUP BY e.dst
  ) c ON c.v = lv.v
)"""
        )
    ctes = ",\n".join(parts)
    return f"WITH {ctes}\nSELECT v, ROUND(x, 6) AS katz FROM k{iters}"


def _modularity_sql(iters: int = LPA_ITERS) -> str:
    """Modularity oracle over the LPA oracle's own label chain — the same
    composition the Spark gate runs (graph/stats.py::modularity)."""
    parts, final = _lpa_parts(iters)
    parts.append(
        "md_deg AS MATERIALIZED (SELECT v, COUNT(*) AS deg FROM lg_sym GROUP BY v)"
    )
    parts.append(
        "md_m AS MATERIALIZED (SELECT COUNT(*) AS m FROM lg_undirected)"
    )
    parts.append(
        f"""md_intra AS MATERIALIZED (
  SELECT la.label AS label, COUNT(*) AS m_c
  FROM lg_undirected e
  JOIN {final} la ON la.v = e.a
  JOIN {final} lb ON lb.v = e.b
  WHERE la.label = lb.label
  GROUP BY la.label
)"""
    )
    parts.append(
        f"""md_dc AS MATERIALIZED (
  SELECT l.label AS label, COALESCE(SUM(d.deg), 0) AS d_c
  FROM {final} l LEFT JOIN md_deg d ON d.v = l.v
  GROUP BY l.label
)"""
    )
    ctes = ",\n".join(parts)
    return f"""WITH {ctes}
SELECT COUNT(*) AS n_communities,
       (SELECT m FROM md_m) AS n_edges,
       CASE WHEN (SELECT m FROM md_m) > 0 THEN
         ROUND(SUM(COALESCE(i.m_c, 0)) / (SELECT m FROM md_m)
               - SUM(d.d_c * d.d_c)
                 / (4.0 * (SELECT m FROM md_m) * (SELECT m FROM md_m)), 6)
       END AS modularity
FROM md_dc d LEFT JOIN md_intra i ON i.label = d.label"""


def _supp_round_sql(e: str, t: int) -> list[str]:
    """One truss-peel round's CTEs over edge table ``e``: vid-oriented
    (a<b<c) triangle listing + per-edge support aggregate."""
    return [
        f"""tt{t} AS MATERIALIZED (
  SELECT e1.a AS x, e1.b AS y, e2.b AS z
  FROM {e} e1
  JOIN {e} e2 ON e2.a = e1.a AND e2.b > e1.b
  JOIN {e} e3 ON e3.a = e1.b AND e3.b = e2.b
)""",
        f"""ts{t} AS MATERIALIZED (
  SELECT a, b, COUNT(*) AS support FROM (
    SELECT x AS a, y AS b FROM tt{t}
    UNION ALL SELECT x AS a, z AS b FROM tt{t}
    UNION ALL SELECT y AS a, z AS b FROM tt{t}
  ) GROUP BY a, b
)""",
    ]


def _edge_support_sql() -> str:
    parts = [linkgraph.EDGES_CTE.strip().rstrip(",")]
    parts += _supp_round_sql("lg_undirected", 0)
    ctes = ",\n".join(parts)
    return f"""WITH {ctes}
SELECT u.a AS a, u.b AS b, COALESCE(s.support, 0) AS support
FROM lg_undirected u LEFT JOIN ts0 s ON s.a = u.a AND s.b = u.b"""


def _ktruss_sql(k: int = KTRUSS_K, rounds: int = KTRUSS_ORACLE_ROUNDS) -> str:
    """Unrolled synchronous truss peel (graph/truss.py semantics): round t
    deletes every edge with support < k-2 within the round-t subgraph.
    The measured fixpoint at sf0.01 is 8 rounds; the unroll runs
    ``rounds`` with margin — past the fixpoint each round is a no-op
    (idempotent), the same argument as the coreness oracle. Output: the
    surviving edges with their within-truss support (ts of the last
    round restricted to >= k-2; truss edges always have support >= k-2
    >= 1 for k >= 3, so the triangle-incident aggregate covers them)."""
    assert k >= 3
    parts = [linkgraph.EDGES_CTE.strip().rstrip(",")]
    e = "lg_undirected"
    for t in range(rounds):
        parts += _supp_round_sql(e, t)
        parts.append(
            f"""te{t + 1} AS MATERIALIZED (
  SELECT a, b FROM ts{t} WHERE support >= {k - 2}
)"""
        )
        e = f"te{t + 1}"
    parts += _supp_round_sql(e, rounds)
    ctes = ",\n".join(parts)
    return (
        f"WITH {ctes}\n"
        f"SELECT a, b, support FROM ts{rounds} WHERE support >= {k - 2}"
    )


def _walks_parts(
    walk_len: int = WALK_LEN, walks_per_vertex: int = WALKS_PER_VERTEX
) -> tuple[list[str], str]:
    """The random-walk oracle's CTE chain (graph/walks.py hop law replayed
    verbatim) + the UNION-ALL select of all step levels."""
    from landscape_spark.graph.walks import H_ADD, H_MOD, H_STEP, H_V, H_WALK, WALK_SHIFT

    parts = [
        linkgraph.EDGES_CTE.strip().rstrip(","),
        """wadj AS MATERIALIZED (
  SELECT src, ROW_NUMBER() OVER (PARTITION BY src ORDER BY dst) - 1 AS rank,
         dst, COUNT(*) OVER (PARTITION BY src) AS out_deg
  FROM lg_edges
)""",
        f"""wk0 AS MATERIALIZED (
  SELECT v AS start_v, CAST(t.wk AS BIGINT) AS walk, 0 AS step, v
  FROM lg_vertices, (SELECT UNNEST(range({walks_per_vertex})) AS wk) t
)""",
    ]
    for t in range(1, walk_len + 1):
        parts.append(
            f"""wk{t} AS MATERIALIZED (
  SELECT w.start_v, w.walk, {t} AS step, a.dst AS v
  FROM wk{t - 1} w
  JOIN wadj a ON a.src = w.v
   AND a.rank = (((w.v % {H_MOD}) * {H_V} + {(t - 1) * H_STEP}
                  + ((w.start_v * {WALK_SHIFT} + w.walk) % {H_MOD}) * {H_WALK}
                  + {H_ADD}) % {H_MOD}) % a.out_deg
)"""
        )
    union = "\nUNION ALL\n".join(
        f"SELECT start_v, walk, step, v FROM wk{t}" for t in range(walk_len + 1)
    )
    return parts, union


def _walks_sql() -> str:
    parts, union = _walks_parts()
    ctes = ",\n".join(parts)
    return f"WITH {ctes}\n{union}"


def _skipgram_sql(window: int = SKIPGRAM_WINDOW) -> str:
    parts, union = _walks_parts()
    parts.append(f"wk_all AS MATERIALIZED (\n{union}\n)")
    ctes = ",\n".join(parts)
    return f"""WITH {ctes}
SELECT a.v AS center, b.v AS context, COUNT(*) AS n_pairs
FROM wk_all a
JOIN wk_all b ON b.start_v = a.start_v AND b.walk = a.walk
 AND b.step > a.step AND b.step - a.step <= {window}
GROUP BY a.v, b.v"""


def _salsa_sql(iters: int = HITS_ITERS) -> str:
    """SALSA oracle: both mass-conserving walks unrolled (graph/salsa.py
    fixes the semantics — uniform init over the walkable side, two-hop
    stochastic redistribution, no normalization)."""
    parts = [
        linkgraph.EDGES_CTE.strip().rstrip(","),
        """sal_e AS MATERIALIZED (
  SELECT e.src, e.dst, i.indeg, o.outdeg
  FROM lg_edges e
  JOIN (SELECT dst, COUNT(*) AS indeg FROM lg_edges GROUP BY dst) i ON i.dst = e.dst
  JOIN (SELECT src, COUNT(*) AS outdeg FROM lg_edges GROUP BY src) o ON o.src = e.src
)""",
        (
            "sa0 AS MATERIALIZED (SELECT v, CAST(1 AS DOUBLE) / "
            "(SELECT COUNT(DISTINCT dst) FROM lg_edges) AS s "
            "FROM (SELECT DISTINCT dst AS v FROM lg_edges))"
        ),
        (
            "sh0 AS MATERIALIZED (SELECT v, CAST(1 AS DOUBLE) / "
            "(SELECT COUNT(DISTINCT src) FROM lg_edges) AS s "
            "FROM (SELECT DISTINCT src AS v FROM lg_edges))"
        ),
    ]
    for t in range(1, iters + 1):
        parts.append(
            f"""sab{t} AS MATERIALIZED (
  SELECT e.src AS u, SUM(a.s / e.indeg) AS b
  FROM sal_e e JOIN sa{t - 1} a ON a.v = e.dst GROUP BY e.src
)"""
        )
        parts.append(
            f"""sa{t} AS MATERIALIZED (
  SELECT e.dst AS v, SUM(b.b / e.outdeg) AS s
  FROM sal_e e JOIN sab{t} b ON b.u = e.src GROUP BY e.dst
)"""
        )
        parts.append(
            f"""shc{t} AS MATERIALIZED (
  SELECT e.dst AS u, SUM(h.s / e.outdeg) AS c
  FROM sal_e e JOIN sh{t - 1} h ON h.v = e.src GROUP BY e.dst
)"""
        )
        parts.append(
            f"""sh{t} AS MATERIALIZED (
  SELECT e.src AS v, SUM(c.c / e.indeg) AS s
  FROM sal_e e JOIN shc{t} c ON c.u = e.dst GROUP BY e.src
)"""
        )
    ctes = ",\n".join(parts)
    return f"""WITH {ctes}
SELECT lv.v AS v,
       ROUND(COALESCE(a.s, 0), 6) AS authority,
       ROUND(COALESCE(h.s, 0), 6) AS hub
FROM lg_vertices lv
LEFT JOIN sa{iters} a ON a.v = lv.v
LEFT JOIN sh{iters} h ON h.v = lv.v"""


def _betweenness_sql(depth: int = BETWEENNESS_ORACLE_DEPTH) -> str:
    """Brandes oracle: forward sigma levels + backward delta levels
    unrolled (graph/betweenness.py fixes the semantics — directed,
    unnormalized, hub pivot set)."""
    seeds = ", ".join(f"({s})" for s in PPR_SEEDS)
    parts = [
        linkgraph.EDGES_CTE.strip().rstrip(","),
        (
            f"bw_l0 AS MATERIALIZED (SELECT CAST(t.v AS BIGINT) AS s,"
            f" CAST(t.v AS BIGINT) AS v, CAST(1 AS BIGINT) AS sigma"
            f" FROM (VALUES {seeds}) t(v))"
        ),
        "bw_all0 AS MATERIALIZED (SELECT s, v FROM bw_l0)",
    ]
    for t in range(1, depth + 1):
        parts.append(
            f"""bw_l{t} AS MATERIALIZED (
  SELECT p.s AS s, e.dst AS v, SUM(p.sigma) AS sigma
  FROM bw_l{t - 1} p JOIN lg_edges e ON e.src = p.v
  WHERE NOT EXISTS (
    SELECT 1 FROM bw_all{t - 1} a WHERE a.s = p.s AND a.v = e.dst
  )
  GROUP BY p.s, e.dst
)"""
        )
        parts.append(
            f"bw_all{t} AS MATERIALIZED (SELECT s, v FROM bw_all{t - 1}"
            f" UNION ALL SELECT s, v FROM bw_l{t})"
        )
    parts.append(
        f"bw_d{depth} AS MATERIALIZED (SELECT s, v, CAST(0 AS DOUBLE)"
        f" AS delta FROM bw_l{depth})"
    )
    for t in range(depth - 1, -1, -1):
        parts.append(
            f"""bw_c{t} AS MATERIALIZED (
  SELECT p.s AS s, p.v AS v,
         SUM((CAST(p.sigma AS DOUBLE) / w.sigma) * (1 + wd.delta)) AS delta
  FROM bw_l{t} p
  JOIN lg_edges e ON e.src = p.v
  JOIN bw_l{t + 1} w ON w.s = p.s AND w.v = e.dst
  JOIN bw_d{t + 1} wd ON wd.s = p.s AND wd.v = e.dst
  GROUP BY p.s, p.v
)"""
        )
        parts.append(
            f"""bw_d{t} AS MATERIALIZED (
  SELECT p.s, p.v, COALESCE(c.delta, 0) AS delta
  FROM bw_l{t} p LEFT JOIN bw_c{t} c ON c.s = p.s AND c.v = p.v
)"""
        )
    union = "\nUNION ALL\n".join(
        f"SELECT s, v, delta FROM bw_d{t}" for t in range(depth + 1)
    )
    ctes = ",\n".join(parts)
    return f"""WITH {ctes}
SELECT lv.v AS v, ROUND(COALESCE(b.bc, 0), 6) AS betweenness
FROM lg_vertices lv LEFT JOIN (
  SELECT v, SUM(delta) AS bc FROM ({union}) WHERE v <> s GROUP BY v
) b ON b.v = lv.v"""


def _eigen_sql(iters: int = HITS_ITERS) -> str:
    """Eigenvector oracle: the HITS-authority half-step iterated on A^T
    with uniform init (graph/katz.py::eigenvector_centrality)."""
    parts = [
        linkgraph.EDGES_CTE.strip().rstrip(","),
        "ev0 AS MATERIALIZED (SELECT v, CAST(1 AS DOUBLE)"
        " / (SELECT n FROM lg_n) AS s FROM lg_vertices)",
    ]
    for t in range(1, iters + 1):
        parts.append(
            f"""ev{t}_raw AS MATERIALIZED (
  SELECT e.dst AS v, SUM(p.s) AS c
  FROM lg_edges e JOIN ev{t - 1} p ON p.v = e.src
  GROUP BY e.dst
)"""
        )
        parts.append(
            f"""ev{t} AS MATERIALIZED (
  SELECT lv.v AS v,
         CASE WHEN (SELECT COALESCE(SUM(c), 0) FROM ev{t}_raw) > 0
              THEN COALESCE(r.c, 0) / (SELECT SUM(c) FROM ev{t}_raw)
              ELSE 0.0 END AS s
  FROM lg_vertices lv LEFT JOIN ev{t}_raw r ON r.v = lv.v
)"""
        )
    ctes = ",\n".join(parts)
    return f"WITH {ctes}\nSELECT v, ROUND(s, 6) AS eigen FROM ev{iters}"


def _node2vec_sql(
    walk_len: int = WALK_LEN, p: float = 4.0, q: float = 0.25
) -> str:
    """node2vec oracle: the deterministic second-order draw unrolled —
    candidate weights (1/p return, 1 common, 1/q explore) cumulated in
    dst order per walker, first candidate past u * total wins."""
    from landscape_spark.graph.walks import H_MOD, H_STEP, H_V, H_WALK, N2V_ADD, WALK_SHIFT

    inv_p = f"CAST({1.0 / p} AS DOUBLE)"
    inv_q = f"CAST({1.0 / q} AS DOUBLE)"
    parts = [
        linkgraph.EDGES_CTE.strip().rstrip(","),
        (
            "n2s0 AS MATERIALIZED (SELECT v AS start_v,"
            " CAST(0 AS BIGINT) AS walk, CAST(-1 AS BIGINT) AS prev, v"
            " FROM lg_vertices)"
        ),
    ]
    for t in range(1, walk_len + 1):
        parts.append(
            f"""n2c{t} AS MATERIALIZED (
  SELECT s.start_v, s.walk, s.prev, s.v, e.dst AS w,
         CASE WHEN e.dst = s.prev THEN {inv_p}
              WHEN pe.src IS NOT NULL THEN CAST(1 AS DOUBLE)
              ELSE {inv_q} END AS wt
  FROM n2s{t - 1} s
  JOIN lg_edges e ON e.src = s.v
  LEFT JOIN lg_edges pe ON pe.src = s.prev AND pe.dst = e.dst
)"""
        )
        parts.append(
            f"""n2s{t} AS MATERIALIZED (
  SELECT start_v, walk, v AS prev, w AS v FROM (
    SELECT c.start_v, c.walk, c.v, c.w, c.wt,
           SUM(c.wt) OVER (PARTITION BY c.start_v, c.walk ORDER BY c.w
                           ROWS UNBOUNDED PRECEDING) AS cum,
           SUM(c.wt) OVER (PARTITION BY c.start_v, c.walk) AS tot,
           CAST(((c.v % {H_MOD}) * {H_V} + {(t - 1) * H_STEP}
                 + ((c.start_v * {WALK_SHIFT} + c.walk) % {H_MOD}) * {H_WALK}
                 + {N2V_ADD}) % {H_MOD} AS DOUBLE) / {H_MOD} AS u
    FROM n2c{t} c
  )
  WHERE u * tot < cum AND u * tot >= cum - wt
)"""
        )
    union = "\nUNION ALL\n".join(
        [f"SELECT start_v, walk, 0 AS step, v FROM n2s0"]
        + [f"SELECT start_v, walk, {t} AS step, v FROM n2s{t}"
           for t in range(1, walk_len + 1)]
    )
    ctes = ",\n".join(parts)
    return f"WITH {ctes}\n{union}"


def _sssp_sql(max_hops: int = SSSP_ORACLE_HOPS) -> str:
    """Weighted-SSSP oracle: bounded recursive walk accumulating the
    deterministic 1..5 edge-cost law, then MIN(d) per vertex (the
    weighted generalization of _bfs_sql; see SSSP_ORACLE_HOPS for why the
    hop bound is sufficient)."""
    seeds = ", ".join(f"({s})" for s in PPR_SEEDS)
    w = linkgraph.WEIGHT_SQL
    return f"""
WITH RECURSIVE {linkgraph.EDGES_CTE.strip().rstrip(',')},
swe AS MATERIALIZED (SELECT src, dst, {w} AS w FROM lg_edges),
walk(v, d, hops) AS (
  SELECT CAST(s.v AS BIGINT), CAST(0 AS BIGINT), 0 FROM (VALUES {seeds}) s(v)
  UNION
  SELECT e.dst, w.d + e.w, w.hops + 1
  FROM walk w JOIN swe e ON e.src = w.v
  WHERE w.hops < {max_hops}
)
SELECT v, MIN(d) AS dist FROM walk GROUP BY v
"""


def _seeded_lpa_sql(iters: int = LPA_ITERS) -> str:
    """Seeded-LPA oracle: the graph/lpa.py seeded_label_propagation
    semantics unrolled — seeds clamped, majority over labeled neighbors,
    NULL until reached."""
    n_seeds = len(PPR_SEEDS)
    parts = [
        linkgraph.EDGES_CTE.strip().rstrip(","),
        _sym_cte().replace("lg_sym AS (", "lg_sym AS MATERIALIZED (", 1),
        (
            f"sl_seeds AS MATERIALIZED (SELECT v, v % {SEEDED_LPA_CLASSES} "
            f"AS seed_label FROM lg_vertices WHERE v < {n_seeds})"
        ),
        (
            "sl0 AS MATERIALIZED (SELECT lv.v AS v, s.seed_label AS label "
            "FROM lg_vertices lv LEFT JOIN sl_seeds s ON s.v = lv.v)"
        ),
    ]
    for t in range(1, iters + 1):
        prev = f"sl{t - 1}"
        parts.append(
            f"""sl{t} AS MATERIALIZED (
  SELECT cur.v AS v, COALESCE(sd.seed_label, b.new_label, cur.label) AS label
  FROM {prev} cur
  LEFT JOIN (
    SELECT v, label AS new_label FROM (
      SELECT s.v AS v, l.label AS label, COUNT(*) AS cnt
      FROM lg_sym s JOIN {prev} l ON l.v = s.w
      WHERE l.label IS NOT NULL
      GROUP BY s.v, l.label
    ) t
    QUALIFY ROW_NUMBER() OVER (PARTITION BY v ORDER BY cnt DESC, label ASC) = 1
  ) b ON b.v = cur.v
  LEFT JOIN sl_seeds sd ON sd.v = cur.v
)"""
        )
    ctes = ",\n".join(parts)
    return f"WITH {ctes}\nSELECT v, label FROM sl{iters}"


def _bfs_sql(max_depth: int = 12) -> str:
    """Multi-source BFS oracle: bounded recursive walk, then MIN(d) per
    vertex. The depth bound only truncates exploration past max_depth;
    the gate graph's hub eccentricity is 4 (measured), and
    tests/test_graph_extra.py pins that raising the bound is a no-op."""
    seeds = ", ".join(f"({s}, 0)" for s in PPR_SEEDS)
    return f"""
WITH RECURSIVE {linkgraph.EDGES_CTE.strip().rstrip(',')},
walk(v, d) AS (
  SELECT CAST(s.v AS BIGINT), s.d FROM (VALUES {seeds}) s(v, d)
  UNION
  SELECT e.dst, w.d + 1
  FROM walk w JOIN lg_edges e ON e.src = w.v
  WHERE w.d < {max_depth}
)
SELECT v, CAST(MIN(d) AS INT) AS dist FROM walk GROUP BY v
"""


def _coreness_sql(rounds: int = 28) -> str:
    """Unrolled H-operator iteration (graph/kcore.py semantics): h_0 =
    degree, h_t(v) = H-index of neighbors' h_{t-1}. The fixpoint is the
    coreness; 22 rounds reach it on the gate graph (measured), 28 gives
    margin, and extra rounds past the fixpoint are no-ops (the operator
    is idempotent there) — fixpointedness is pinned by
    tests/test_graph_extra.py against an independent Python peel."""
    parts = [
        linkgraph.EDGES_CTE.strip().rstrip(","),
        _sym_cte().replace("lg_sym AS (", "lg_sym AS MATERIALIZED (", 1),
        (
            "h0 AS MATERIALIZED (SELECT lv.v AS v, COALESCE(d.deg, 0) AS h "
            "FROM lg_vertices lv LEFT JOIN "
            "(SELECT v, COUNT(*) AS deg FROM lg_sym GROUP BY v) d ON d.v = lv.v)"
        ),
    ]
    for t in range(1, rounds + 1):
        parts.append(
            f"""h{t} AS MATERIALIZED (
  SELECT lv.v AS v, COALESCE(x.h, 0) AS h
  FROM lg_vertices lv LEFT JOIN (
    SELECT v, MAX(CASE WHEN hw >= rn THEN rn ELSE 0 END) AS h
    FROM (
      SELECT s.v AS v, p.h AS hw,
             ROW_NUMBER() OVER (PARTITION BY s.v ORDER BY p.h DESC) AS rn
      FROM lg_sym s JOIN h{t - 1} p ON p.v = s.w
    )
    GROUP BY v
  ) x ON x.v = lv.v
)"""
        )
    ctes = ",\n".join(parts)
    return f"WITH {ctes}\nSELECT v, h AS core FROM h{rounds}"


_SCC_SQL = f"""
WITH RECURSIVE {linkgraph.EDGES_CTE.strip().rstrip(',')},
reach(s, v) AS (
  SELECT v, v FROM lg_vertices
  UNION
  SELECT r.s, e.dst FROM reach r JOIN lg_edges e ON e.src = r.v
)
SELECT a.s AS v, MIN(a.v) AS comp
FROM reach a JOIN reach b ON b.s = a.v AND b.v = a.s
GROUP BY a.s
"""


_CLUSTERING_SQL = f"""
WITH {linkgraph.EDGES_CTE.strip().rstrip(',')},
tri AS (
  SELECT e1.a AS x, e1.b AS y, e2.b AS z
  FROM lg_undirected e1
  JOIN lg_undirected e2 ON e2.a = e1.a AND e2.b > e1.b
  JOIN lg_undirected e3 ON e3.a = e1.b AND e3.b = e2.b
),
per_v AS (
  SELECT v, COUNT(*) AS cnt FROM (
    SELECT UNNEST([x, y, z]) AS v FROM tri
  ) GROUP BY v
),
cc_deg AS (
  SELECT v, COUNT(*) AS deg FROM (
    SELECT a AS v FROM lg_undirected UNION ALL SELECT b FROM lg_undirected
  ) GROUP BY v
)
SELECT lv.v AS v,
       COALESCE(d.deg, 0) AS deg,
       COALESCE(p.cnt, 0) AS tri_cnt,
       ROUND(CASE WHEN COALESCE(d.deg, 0) >= 2
                  THEN 2.0 * COALESCE(p.cnt, 0) / (d.deg * (d.deg - 1))
                  ELSE 0.0 END, 6) AS coeff
FROM lg_vertices lv
LEFT JOIN per_v p ON p.v = lv.v
LEFT JOIN cc_deg d ON d.v = lv.v
"""


_LINKPRED_SQL = f"""
WITH {linkgraph.EDGES_CTE.strip().rstrip(',')},
{_sym_cte().replace("lg_sym AS (", "lg_sym AS MATERIALIZED (", 1)},
lp_deg AS MATERIALIZED (SELECT v, COUNT(*) AS deg FROM lg_sym GROUP BY v),
wedges AS (
  SELECT s1.w AS a, s2.w AS b, d.deg AS deg
  FROM lg_sym s1
  JOIN lg_sym s2 ON s2.v = s1.v AND s1.w < s2.w
  JOIN lp_deg d ON d.v = s1.v
),
scores AS (
  SELECT a, b, COUNT(*) AS common_cnt, ROUND(SUM(1.0 / ln(deg)), 6) AS aa_score
  FROM wedges GROUP BY a, b
),
cand AS (
  SELECT s.a, s.b, s.common_cnt, s.aa_score FROM scores s
  WHERE NOT EXISTS (SELECT 1 FROM lg_undirected u WHERE u.a = s.a AND u.b = s.b)
)
SELECT a, b, common_cnt, aa_score FROM cand
QUALIFY ROW_NUMBER() OVER (ORDER BY aa_score DESC, a ASC, b ASC) <= 20
"""


_BOWTIE_SQL = f"""
WITH RECURSIVE {linkgraph.EDGES_CTE.strip().rstrip(',')},
{_sym_cte().replace("lg_sym AS (", "lg_sym AS MATERIALIZED (", 1)},
reach(s, v) AS (
  SELECT v, v FROM lg_vertices
  UNION
  SELECT r.s, e.dst FROM reach r JOIN lg_edges e ON e.src = r.v
),
scc AS MATERIALIZED (
  SELECT a.s AS v, MIN(a.v) AS comp
  FROM reach a JOIN reach b ON b.s = a.v AND b.v = a.s
  GROUP BY a.s
),
core AS MATERIALIZED (
  SELECT v FROM scc WHERE comp = (
    SELECT comp FROM (
      SELECT comp, COUNT(*) AS sz FROM scc GROUP BY comp
      ORDER BY sz DESC, comp ASC LIMIT 1
    )
  )
),
fwd AS MATERIALIZED (SELECT DISTINCT r.v FROM reach r JOIN core c ON c.v = r.s),
bwd AS MATERIALIZED (SELECT DISTINCT r.s AS v FROM reach r JOIN core c ON c.v = r.v),
in_set AS (SELECT v FROM bwd WHERE v NOT IN (SELECT v FROM core)),
out_set AS (SELECT v FROM fwd WHERE v NOT IN (SELECT v FROM core)),
from_in AS (SELECT DISTINCT r.v FROM reach r JOIN in_set i ON i.v = r.s),
to_out AS (SELECT DISTINCT r.s AS v FROM reach r JOIN out_set o ON o.v = r.v),
wcc_walk(s, v) AS (
  SELECT v, v FROM lg_vertices
  UNION
  SELECT w.s, sy.w FROM wcc_walk w JOIN lg_sym sy ON sy.v = w.v
),
wcc AS MATERIALIZED (SELECT s AS v, MIN(v) AS comp FROM wcc_walk GROUP BY s),
core_w AS (SELECT DISTINCT w.comp FROM wcc w JOIN core c ON c.v = w.v)
SELECT lv.v AS v,
       CASE WHEN c.v IS NOT NULL THEN 'CORE'
            WHEN b.v IS NOT NULL THEN 'IN'
            WHEN f.v IS NOT NULL THEN 'OUT'
            WHEN fi.v IS NOT NULL AND t.v IS NOT NULL THEN 'TUBE'
            WHEN cw.comp IS NOT NULL THEN 'TENDRIL'
            ELSE 'DISCONNECTED' END AS region
FROM lg_vertices lv
LEFT JOIN core c ON c.v = lv.v
LEFT JOIN bwd b ON b.v = lv.v
LEFT JOIN fwd f ON f.v = lv.v
LEFT JOIN from_in fi ON fi.v = lv.v
LEFT JOIN to_out t ON t.v = lv.v
LEFT JOIN wcc w ON w.v = lv.v
LEFT JOIN core_w cw ON cw.comp = w.comp
"""


_RECIPROCITY_SQL = f"""
WITH {linkgraph.EDGES_CTE.strip().rstrip(',')}
SELECT (SELECT COUNT(*) FROM lg_edges) AS n_edges,
       COUNT(*) AS n_reciprocal,
       ROUND(COUNT(*) * 1.0 / (SELECT COUNT(*) FROM lg_edges), 6)
         AS reciprocity
FROM lg_edges e
WHERE EXISTS (SELECT 1 FROM lg_edges r WHERE r.src = e.dst AND r.dst = e.src)
"""


_ASSORTATIVITY_SQL = f"""
WITH {linkgraph.EDGES_CTE.strip().rstrip(',')},
{_sym_cte().replace("lg_sym AS (", "lg_sym AS MATERIALIZED (", 1)},
as_deg AS MATERIALIZED (SELECT v, COUNT(*) AS deg FROM lg_sym GROUP BY v),
pairs AS (
  SELECT d1.deg AS dx, d2.deg AS dy
  FROM lg_sym s JOIN as_deg d1 ON d1.v = s.v JOIN as_deg d2 ON d2.v = s.w
),
agg AS (
  SELECT COUNT(*) AS m2, SUM(dx) AS sx,
         SUM(dx * dy) AS sxy, SUM(dx * dx) AS sxx
  FROM pairs
)
SELECT (SELECT COUNT(*) FROM as_deg) AS n_vertices,
       (SELECT COUNT(*) FROM lg_undirected) AS n_edges,
       CASE WHEN sxx * 1.0 / m2 - (sx * 1.0 / m2) * (sx * 1.0 / m2) > 0
            THEN ROUND((sxy * 1.0 / m2 - (sx * 1.0 / m2) * (sx * 1.0 / m2))
                       / (sxx * 1.0 / m2 - (sx * 1.0 / m2) * (sx * 1.0 / m2)), 6)
            END AS assortativity
FROM agg
"""


_HOST_GRAPH_CTE = (
    "host_g AS MATERIALIZED (\n"
    f"  SELECT src % {{hm}} AS src, dst % {{hm}} AS dst, COUNT(*) AS weight\n"
    "  FROM lg_edges\n"
    f"  WHERE src % {{hm}} <> dst % {{hm}}\n"
    "  GROUP BY 1, 2\n"
    ")"
)


def _host_graph_sql() -> str:
    cte = _HOST_GRAPH_CTE.format(hm=HOST_MOD)
    return f"""
WITH {linkgraph.EDGES_CTE.strip().rstrip(',')},
{cte}
SELECT src, dst, weight FROM host_g
"""


def _host_pagerank_sql(iters: int = PR_ITERS, d: float = PR_DAMPING) -> str:
    """Weighted PageRank over the contracted host graph: the same
    unrolled shape as _pagerank_weighted_sql with host_g as the edge
    relation and the distinct host set as the vertex space."""
    cte = _HOST_GRAPH_CTE.format(hm=HOST_MOD)
    parts = [
        linkgraph.EDGES_CTE.strip().rstrip(","),
        cte,
        f"h_verts AS MATERIALIZED (SELECT DISTINCT v % {HOST_MOD} AS v FROM lg_vertices)",
        "h_n AS (SELECT COUNT(*) AS n FROM h_verts)",
        "h_deg AS MATERIALIZED (SELECT src, SUM(weight) AS out_deg FROM host_g GROUP BY src)",
        "hp0 AS MATERIALIZED (SELECT v, 1.0 / (SELECT n FROM h_n) AS r FROM h_verts)",
    ]
    for t in range(1, iters + 1):
        prev = f"hp{t - 1}"
        parts.append(
            f"""hp{t} AS MATERIALIZED (
  SELECT hv.v AS v,
         (1 - {d}) / (SELECT n FROM h_n)
         + {d} * (
             COALESCE(c.c, 0)
             + (SELECT COALESCE(SUM(r), 0) FROM {prev}
                WHERE v NOT IN (SELECT src FROM h_deg)) / (SELECT n FROM h_n)
           ) AS r
  FROM h_verts hv
  LEFT JOIN (
    SELECT e.dst AS v, SUM(p.r * e.weight / dg.out_deg) AS c
    FROM host_g e
    JOIN {prev} p ON p.v = e.src
    JOIN h_deg dg ON dg.src = e.src
    GROUP BY e.dst
  ) c ON c.v = hv.v
)"""
        )
    ctes = ",\n".join(parts)
    return f"WITH {ctes}\nSELECT v, ROUND(r, 6) AS pr_score FROM hp{iters}"


GRAPH_ORACLES: dict[str, str] = {
    "degree_distribution": f"""
WITH {linkgraph.EDGES_CTE.strip().rstrip(',')}
SELECT out_deg, COUNT(*) AS n_vertices FROM (
  SELECT src, COUNT(*) AS out_deg FROM lg_edges GROUP BY src
) GROUP BY out_deg
""",
    "top_in_degree": f"""
WITH {linkgraph.EDGES_CTE.strip().rstrip(',')}
SELECT v, in_deg FROM (
  SELECT dst AS v, COUNT(*) AS in_deg,
         ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, dst ASC) AS rn
  FROM lg_edges GROUP BY dst
) WHERE rn <= 20
""",
    "cc": f"""
WITH RECURSIVE {linkgraph.EDGES_CTE.strip().rstrip(',')},
{_sym_cte()},
cc(v, l) AS (
  SELECT v, v FROM lg_vertices
  UNION
  SELECT s.w, cc.l FROM cc JOIN lg_sym s ON s.v = cc.v
)
SELECT v, MIN(l) AS comp FROM cc GROUP BY v
""",
    "cc_sizes": f"""
WITH RECURSIVE {linkgraph.EDGES_CTE.strip().rstrip(',')},
{_sym_cte()},
cc(v, l) AS (
  SELECT v, v FROM lg_vertices
  UNION
  SELECT s.w, cc.l FROM cc JOIN lg_sym s ON s.v = cc.v
)
SELECT comp, COUNT(*) AS comp_size FROM (
  SELECT v, MIN(l) AS comp FROM cc GROUP BY v
) GROUP BY comp
""",
    "pagerank": _pagerank_sql(),
    "pagerank_weighted": _pagerank_weighted_sql(),
    "pagerank_csr": _pagerank_sql(),
    "pagerank_csr_blocked": _pagerank_sql(),
    "personalized_pagerank": _ppr_sql(),
    "hits": _hits_sql(),
    "lpa": _lpa_sql(),
    "triangle_count": f"""
WITH {linkgraph.EDGES_CTE.strip().rstrip(',')}
SELECT COUNT(*) AS n_triangles
FROM lg_undirected e1
JOIN lg_undirected e2 ON e2.a = e1.a AND e2.b > e1.b
JOIN lg_undirected e3 ON e3.a = e1.b AND e3.b = e2.b
""",
    "triangles_per_vertex": f"""
WITH {linkgraph.EDGES_CTE.strip().rstrip(',')},
tri AS (
  SELECT e1.a AS x, e1.b AS y, e2.b AS z
  FROM lg_undirected e1
  JOIN lg_undirected e2 ON e2.a = e1.a AND e2.b > e1.b
  JOIN lg_undirected e3 ON e3.a = e1.b AND e3.b = e2.b
),
per_v AS (
  SELECT v, COUNT(*) AS cnt FROM (
    SELECT UNNEST([x, y, z]) AS v FROM tri
  ) GROUP BY v
)
SELECT lv.v AS v, COALESCE(p.cnt, 0) AS tri_cnt
FROM lg_vertices lv LEFT JOIN per_v p ON p.v = lv.v
""",
    "bfs_distances": _bfs_sql(),
    "coreness": _coreness_sql(),
    "scc": _SCC_SQL,
    "clustering_coefficient": _CLUSTERING_SQL,
    "link_prediction_topk": _LINKPRED_SQL,
    "bowtie": _BOWTIE_SQL,
    "reciprocity": _RECIPROCITY_SQL,
    "degree_assortativity": _ASSORTATIVITY_SQL,
    "host_graph": _host_graph_sql(),
    "host_pagerank": _host_pagerank_sql(),
    "katz": _katz_sql(),
    "eigenvector": _eigen_sql(),
    "betweenness": _betweenness_sql(),
    "modularity_lpa": _modularity_sql(),
    "edge_support": _edge_support_sql(),
    "ktruss": _ktruss_sql(),
    "random_walks": _walks_sql(),
    "skipgram_pairs": _skipgram_sql(),
    "node2vec_walks": _node2vec_sql(),
    "sssp_weighted": _sssp_sql(),
    "seeded_lpa": _seeded_lpa_sql(),
    "salsa": _salsa_sql(),
    "degree_percentiles": f"""
WITH {linkgraph.EDGES_CTE.strip().rstrip(',')},
dp_deg AS (SELECT dst, COUNT(*) AS deg FROM lg_edges GROUP BY dst),
dp_hist AS (SELECT deg, COUNT(*) AS cnt FROM dp_deg GROUP BY deg),
dp_cum AS (SELECT deg, SUM(cnt) OVER (ORDER BY deg) AS cum FROM dp_hist),
dp_n AS (SELECT COUNT(*) AS n FROM dp_deg)
SELECT CAST(0.25 AS DOUBLE) AS q, (SELECT MIN(deg) FROM dp_cum CROSS JOIN dp_n WHERE cum >= CEIL(0.25 * n)) AS value UNION ALL SELECT CAST(0.5 AS DOUBLE) AS q, (SELECT MIN(deg) FROM dp_cum CROSS JOIN dp_n WHERE cum >= CEIL(0.5 * n)) AS value UNION ALL SELECT CAST(0.75 AS DOUBLE) AS q, (SELECT MIN(deg) FROM dp_cum CROSS JOIN dp_n WHERE cum >= CEIL(0.75 * n)) AS value UNION ALL SELECT CAST(0.9 AS DOUBLE) AS q, (SELECT MIN(deg) FROM dp_cum CROSS JOIN dp_n WHERE cum >= CEIL(0.9 * n)) AS value UNION ALL SELECT CAST(0.99 AS DOUBLE) AS q, (SELECT MIN(deg) FROM dp_cum CROSS JOIN dp_n WHERE cum >= CEIL(0.99 * n)) AS value
""",
    "triangle_count_sampled": f"""
WITH {linkgraph.EDGES_CTE.strip().rstrip(',')},
dl_sample AS MATERIALIZED (
  SELECT a, b FROM lg_undirected
  WHERE ((a % 1000003) * 2654435761
         + (b % 1000003) * 40503 + 7) % 1000003 % 4 = 0
),
dl_tri AS (
  SELECT COUNT(*) AS t
  FROM dl_sample e1
  JOIN dl_sample e2 ON e2.a = e1.a AND e2.b > e1.b
  JOIN dl_sample e3 ON e3.a = e1.b AND e3.b = e2.b
)
SELECT (SELECT COUNT(*) FROM dl_sample) AS n_sampled_edges,
       t AS sampled_triangles,
       t * 64 AS est_triangles
FROM dl_tri
""",
    "avg_neighbor_degree": f"""
WITH {linkgraph.EDGES_CTE.strip().rstrip(',')},
{_sym_cte()},
knn_deg AS (SELECT v, COUNT(*) AS deg FROM lg_sym GROUP BY v),
knn_pv AS (
  SELECT s.v AS v, AVG(d2.deg) AS nbr_avg
  FROM lg_sym s JOIN knn_deg d2 ON d2.v = s.w
  GROUP BY s.v
)
SELECT d.deg AS deg, COUNT(*) AS n_vertices, ROUND(AVG(p.nbr_avg), 6) AS knn
FROM knn_pv p JOIN knn_deg d ON d.v = p.v
GROUP BY d.deg
""",
    "cocitation_topk": f"""
WITH {linkgraph.EDGES_CTE.strip().rstrip(',')},
cc_pairs AS (
  SELECT e1.dst AS a, e2.dst AS b, COUNT(*) AS shared_cnt
  FROM lg_edges e1 JOIN lg_edges e2 ON e2.src = e1.src AND e1.dst < e2.dst
  GROUP BY e1.dst, e2.dst
)
SELECT a, b, shared_cnt FROM (
  SELECT a, b, shared_cnt,
         ROW_NUMBER() OVER (ORDER BY shared_cnt DESC, a ASC, b ASC) AS rn
  FROM cc_pairs
) WHERE rn <= {JACCARD_K}
""",
    "coupling_topk": f"""
WITH {linkgraph.EDGES_CTE.strip().rstrip(',')},
bc_pairs AS (
  SELECT e1.src AS a, e2.src AS b, COUNT(*) AS shared_cnt
  FROM lg_edges e1 JOIN lg_edges e2 ON e2.dst = e1.dst AND e1.src < e2.src
  GROUP BY e1.src, e2.src
)
SELECT a, b, shared_cnt FROM (
  SELECT a, b, shared_cnt,
         ROW_NUMBER() OVER (ORDER BY shared_cnt DESC, a ASC, b ASC) AS rn
  FROM bc_pairs
) WHERE rn <= {JACCARD_K}
""",
    "rectangle_count": f"""
WITH {linkgraph.EDGES_CTE.strip().rstrip(',')},
{_sym_cte()},
rc_pairs AS (
  SELECT s1.w AS a, s2.w AS b, COUNT(*) AS cnt
  FROM lg_sym s1 JOIN lg_sym s2 ON s2.v = s1.v AND s1.w < s2.w
  GROUP BY s1.w, s2.w
)
SELECT COUNT(*) AS n_wedge_pairs,
       CAST(COALESCE(SUM(cnt * (cnt - 1)), 0) // 4 AS BIGINT) AS n_rectangles
FROM rc_pairs
""",
    "jaccard_topk": f"""
WITH {linkgraph.EDGES_CTE.strip().rstrip(',')},
{_sym_cte()},
jd AS (SELECT v, COUNT(*) AS deg FROM lg_sym GROUP BY v),
jp AS (
  SELECT s1.w AS a, s2.w AS b, COUNT(*) AS common_cnt
  FROM lg_sym s1 JOIN lg_sym s2 ON s2.v = s1.v AND s1.w < s2.w
  GROUP BY s1.w, s2.w
),
jc AS (
  SELECT p.a AS a, p.b AS b, p.common_cnt AS common_cnt,
         ROUND(p.common_cnt / (da.deg + db.deg - p.common_cnt), 6) AS jaccard
  FROM jp p
  JOIN jd da ON da.v = p.a
  JOIN jd db ON db.v = p.b
  WHERE NOT EXISTS (
    SELECT 1 FROM lg_undirected u WHERE u.a = p.a AND u.b = p.b
  )
)
SELECT a, b, common_cnt, jaccard FROM (
  SELECT a, b, common_cnt, jaccard,
         ROW_NUMBER() OVER (ORDER BY jaccard DESC, a ASC, b ASC) AS rn
  FROM jc
) WHERE rn <= {JACCARD_K}
""",
    "degree_powerlaw": f"""
WITH {linkgraph.EDGES_CTE.strip().rstrip(',')}
SELECT {POWERLAW_DMIN} AS dmin,
       COUNT(*) AS n_tail,
       CASE WHEN COUNT(*) > 0 THEN
         ROUND(1.0 + COUNT(*) / SUM(LN(deg / {POWERLAW_DMIN - 0.5})), 6)
       END AS alpha
FROM (SELECT dst, COUNT(*) AS deg FROM lg_edges GROUP BY dst)
WHERE deg >= {POWERLAW_DMIN}
""",
}

# the storage round trip republishes the same aggregate over the persisted
# bytes — hold it to degree_distribution's oracle
GRAPH_ORACLES["bucketed_roundtrip"] = GRAPH_ORACLES["degree_distribution"]


def _pii_scrub_oracle() -> str:
    from landscape_spark.text.pii import pii_scrub_sql

    inner = pii_scrub_sql(source_sql=PII_INJECT_SQL)
    return (
        f"SELECT doc_id, n_emails, n_ips, n_phones, md5(clean_text) AS clean_fp "
        f"FROM ({inner})"
    )


def _corpus_sample_sql() -> str:
    from landscape_spark.text.corpus import stratified_sample_sql

    return stratified_sample_sql(
        CORPUS_FRACTIONS, strata_col="lang", default_fraction=0.3
    )


def _decontaminate_sql() -> str:
    from landscape_spark.text.corpus import decontaminate_sql

    return decontaminate_sql(n=64, bench_pred="doc_id % 20 = 0")


FRONTIER_INJECT_SQL = (
    "SELECT doc_id,"
    " CASE doc_id % 2 WHEN 0 THEN"
    "  'HTTP://Site' || CAST((doc_id // 2) % 64 AS VARCHAR)"
    "  || '.Example.COM:80/p/' || CAST(doc_id // 2 AS VARCHAR)"
    "  || '?utm_source=a'"
    " ELSE"
    "  'http://Site' || CAST((doc_id // 2) % 64 AS VARCHAR)"
    "  || '.example.com/p/' || CAST(doc_id // 2 AS VARCHAR)"
    "  || '/#top'"
    " END AS url FROM documents"
)


def _frontier_dedup_sql() -> str:
    from landscape_spark.text import urls

    return (
        "WITH fd AS ("
        + urls.canonicalize_urls_sql(FRONTIER_INJECT_SQL)
        + ") SELECT canon_url, COUNT(*) AS n_aliases,"
        " MIN(doc_id) AS keep_id FROM fd GROUP BY canon_url"
    )


def _text_oracles() -> dict[str, str]:
    from landscape_spark.sim.embdup import embedding_near_dup_sql
    from landscape_spark.text import analysis, dedup, tfidf, urls

    ann_sql = """
WITH q AS (
  SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0
),
scored AS (
  SELECT e.vec_id AS vec_id,
         ROUND(
           list_dot_product(CAST(e.embedding AS DOUBLE[]), q.qv)
           / (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[])))
              * sqrt(list_dot_product(q.qv, q.qv))), 6) AS sim
  FROM embeddings e, q
)
SELECT vec_id, sim FROM (
  SELECT vec_id, sim, ROW_NUMBER() OVER (ORDER BY sim DESC, vec_id ASC) AS rn
  FROM scored
) WHERE rn <= 10
"""
    from landscape_spark.sim.knn import knn_label_majority_sql

    return {
        "knn_label": knn_label_majority_sql(k=5),
        "token_stats": analysis.TOKEN_STATS_SQL,
        "tfidf_topk": tfidf.tfidf_topk_sql(k=TFIDF_K),
        "term_postings": tfidf.term_postings_sql(),
        "ngram_counts": tfidf.ngram_counts_sql(n=2, k=JACCARD_K),
        "term_zipf": tfidf.term_zipf_alpha_sql(fmin=POWERLAW_DMIN),
        "frontier_dedup": _frontier_dedup_sql(),
        "url_canonicalize": urls.canonicalize_urls_sql(URL_INJECT_SQL),
        "host_quality": (
            "WITH q AS (" + analysis.QUALITY_SQL + ") "
            "SELECT doc_id % {hm} AS host, COUNT(*) AS n_docs, "
            "ROUND(AVG(quality), 6) AS avg_quality, "
            "ROUND(MIN(quality), 6) AS min_quality "
            "FROM q GROUP BY doc_id % {hm}"
        ).format(hm=HOST_MOD),
        "quality_score": analysis.QUALITY_SQL,
        "lang_id": analysis.LANG_ID_SQL,
        "doc_fingerprint": analysis.FINGERPRINT_SQL,
        "repetition_signals": analysis.REPETITION_SQL,
        "bpe_token_count": analysis.BPE_TOKEN_COUNT_SQL,
        "pii_scrub": _pii_scrub_oracle(),
        "curate_corpus": _curate_corpus_sql(),
        "dedup_exact": """
WITH fp AS (SELECT doc_id, md5(text) AS fp FROM documents),
keep AS (SELECT fp, MIN(doc_id) AS keep_id FROM fp GROUP BY fp)
SELECT f.doc_id, k.keep_id FROM fp f JOIN keep k ON k.fp = f.fp
""",
        "dedup_ngram_jaccard": dedup.ngram_jaccard_sql(threshold=0.5),
        "dedup_groups": dedup.near_dup_groups_sql(threshold=0.5),
        "corpus_sample_stratified": _corpus_sample_sql(),
        "decontaminate": _decontaminate_sql(),
        "dedup_embedding_cosine": embedding_near_dup_sql(threshold=0.35),
        "ann_cosine_topk": ann_sql,
    }


TEXT_ORACLES: dict[str, str] = _text_oracles()


# ---------------------------------------------------------------------------
# Additional contract queries: point-query batch (Q3), rolling fingerprint,
# page-extraction pipeline
# ---------------------------------------------------------------------------

def q_batched_reachability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batched point-to-point connectivity (reference Q3,
    /root/reference/src/graph_distrib_update.cpp:211-258 + the 'Batched
    Reachability' experiment): 50 deterministic query pairs answered from a
    cached CC result via two broadcast lookups."""
    from landscape_spark.sketch.boruvka import batched_reachability

    n = linkgraph.num_vertices(spark, sf_dir)
    cc_result = q_cc(spark, sf_dir)
    pairs = spark.range(50).select(
        (F.col("id") % n).alias("a"),
        ((F.col("id") * 7 + 3) % n).alias("b"),
    )
    return batched_reachability(cc_result, pairs)


BATCHED_REACH_SQL = """
WITH RECURSIVE {edges_cte},
lg_sym AS (SELECT a AS v, b AS w FROM lg_undirected
           UNION ALL SELECT b AS v, a AS w FROM lg_undirected),
cc(v, l) AS (
  SELECT v, v FROM lg_vertices
  UNION
  SELECT s.w, cc.l FROM cc JOIN lg_sym s ON s.v = cc.v
),
labels AS (SELECT v, MIN(l) AS comp FROM cc GROUP BY v),
pairs AS (
  SELECT i % (SELECT n FROM lg_n) AS a,
         (i * 7 + 3) % (SELECT n FROM lg_n) AS b
  FROM (SELECT UNNEST(range(50)) AS i)
)
SELECT p.a AS a, p.b AS b, (la.comp = lb.comp) AS connected
FROM pairs p
JOIN labels la ON la.v = p.a
JOIN labels lb ON lb.v = p.b
"""


def q_rolling_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Polynomial rolling-hash document fingerprint, computed as a JVM-side
    sequential fold (F.aggregate over the text's code points — whole-stage
    codegen, no Python). h = fold(h * B + c) mod M with B=131, M=2^31-1 (Mersenne prime; intermediates < 2^39, ANSI-safe).
    Rows-only in the gate (sequential folds are not ANSI-SQL-expressible
    without recursion); exact-tested against a pure-Python reference in
    tests/test_text_extra.py."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    B, M = 131, (1 << 31) - 1
    fold = F.aggregate(
        F.expr("transform(split(text, ''), ch -> ascii(ch))"),
        F.lit(0).cast("long"),
        lambda acc, c: (acc * B + c) % M,
    )
    return docs.select("doc_id", fold.alias("rolling_fp"))


def q_pages_extract_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The north-rule extraction pipeline end-to-end: synthesize the
    Common-Crawl-style pages table (size = documents count, deterministic
    seed), extract (text, links) with the Arrow pipeline, build the url->vid
    dictionary, return the edge list. Rows-only in the gate (HTML extraction
    is not SQL-expressible); the byte-identical-text invariant is enforced in
    tests/test_pages.py."""
    from landscape_spark import pages as P

    n = linkgraph.num_vertices(spark, sf_dir)
    pg = P.synthesize_pages(spark, n, seed=42)
    _, edges = P.edges_from_pages(pg)
    return edges.select("src", "dst")


def q_rmat_degree_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-degree distribution of a Graph500-style R-MAT graph
    (linkgraph.rmat_stream, 2^10 vertices x 8x2^10 edges) — exercises the
    zero-shuffle skewed generator through the engine. Rows-only
    (xxhash64-seeded); determinism, quadrant marginals, and hub skew are
    pinned in tests/test_linkgraph.py."""
    stream = linkgraph.rmat_stream(spark, 10, 8 << 10)
    return (
        stream.groupBy("src")
        .agg(F.count(F.lit(1)).alias("out_deg"))
        .groupBy("out_deg")
        .agg(F.count(F.lit(1)).alias("n_vertices"))
    )


def q_anchor_text_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-target anchor-text index over the synthesized pages table
    (pages.py::anchor_text_index): the classic web-search relevance
    signal — anchor text describes the TARGET. Rows-only in the gate
    (HTML extraction is not SQL-expressible); the vectorized extractor's
    byte-identical parity vs the pure-pandas oracle and the index's
    aggregation invariants are enforced in tests/test_pages.py."""
    from landscape_spark import pages as P

    n = linkgraph.num_vertices(spark, sf_dir)
    pg = P.synthesize_pages(spark, n, seed=42)
    return P.anchor_text_index(P.extract_anchors(pg))


def q_k_spanning_forests(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k=2 edge-disjoint spanning forests of the derived link graph (the
    reference's k-edge-connectivity certificate, Q2,
    /root/reference/src/graph_distrib_update.cpp:156-209). Rows-only in the
    gate (sketch-randomized edge selection is not SQL-expressible); forest
    properties — spanning, edge-disjoint, acyclic, certificate — are
    asserted in tests/test_kforests.py. Output: per-forest edge COUNTS
    (deterministic given the seed), not the sampled edges themselves."""
    from landscape_spark.sketch.boruvka import k_spanning_forests

    und = linkgraph.undirected_edges(spark, sf_dir)
    n = linkgraph.num_vertices(spark, sf_dir)
    forests = k_spanning_forests(spark, und, n, k=2, seed=42)
    return forests.groupBy("forest_id").agg(F.count(F.lit(1)).alias("n_edges"))


def q_spanning_forest_size(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forest 0's edge count — the SQL-checkable invariant of the sketch
    forest extractor: a spanning forest of a graph with n vertices and c
    components has EXACTLY n - c edges, and c is computable with the same
    recursive-CTE CC the cc oracle uses. This converts the k-forest
    machinery's core claim ('the sampled edge set spans every component
    acyclically') from property-tested to hash-checked against DuckDB."""
    from landscape_spark.sketch.boruvka import k_spanning_forests

    und = linkgraph.undirected_edges(spark, sf_dir)
    n = linkgraph.num_vertices(spark, sf_dir)
    forest0 = k_spanning_forests(spark, und, n, k=1, seed=42)
    return forest0.agg(F.count(F.lit(1)).alias("n_edges"))


SPANNING_FOREST_SIZE_SQL = """
WITH RECURSIVE {edges_cte},
lg_sym AS (SELECT a AS v, b AS w FROM lg_undirected
           UNION ALL SELECT b AS v, a AS w FROM lg_undirected),
cc(v, l) AS (
  SELECT v, v FROM lg_vertices
  UNION
  SELECT s.w, cc.l FROM cc JOIN lg_sym s ON s.v = cc.v
),
labels AS (SELECT v, MIN(l) AS comp FROM cc GROUP BY v)
SELECT (SELECT n FROM lg_n) - COUNT(DISTINCT comp) AS n_edges FROM labels
"""


def q_media_image_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal pipeline: synthesize the media table (real BMP payloads),
    decode with the pure-numpy BMP codec, extract intensity/edge features.
    Rows-only in the gate (binary codecs are not SQL-expressible); codec
    round-trips are exact-tested in tests/test_multimodal.py."""
    from landscape_spark.multimodal import binaryops as B

    n = min(linkgraph.num_vertices(spark, sf_dir), 500)
    m = B.synthesize_media(spark, n, seed=42)
    f = B.image_features(m)
    return f.select(
        "media_id",
        F.round("mean_intensity", 6).alias("mean_intensity"),
        F.round("std_intensity", 6).alias("std_intensity"),
        F.round("edge_energy", 6).alias("edge_energy"),
    )


def q_media_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal audio path: real RIFF/WAVE PCM decode + rms/zcr/duration.
    Rows-only (see q_media_image_features)."""
    from landscape_spark.multimodal import binaryops as B

    n = min(linkgraph.num_vertices(spark, sf_dir), 500)
    m = B.synthesize_media(spark, n, seed=42)
    f = B.audio_features(m)
    return f.select(
        "media_id",
        F.round("rms", 6).alias("rms"),
        F.round("zero_cross_rate", 6).alias("zero_cross_rate"),
        F.round("duration_sec", 6).alias("duration_sec"),
    )


EXTRA_QUERIES.update(
    {
        "batched_reachability": q_batched_reachability,
        "rolling_fingerprint": q_rolling_fingerprint,  # rows-only: sequential fold
        "pages_extract_edges": q_pages_extract_edges,  # rows-only: HTML extraction
        "anchor_text_index": q_anchor_text_index,  # rows-only: HTML extraction
        "rmat_degree_distribution": q_rmat_degree_distribution,  # rows-only: xxhash64 generator
        "media_image_features": q_media_image_features,  # rows-only: binary codec
        "media_audio_features": q_media_audio_features,  # rows-only: binary codec
        "k_spanning_forests": q_k_spanning_forests,  # rows-only: sketch-randomized
        "spanning_forest_size": q_spanning_forest_size,
    }
)

EXTRA_ORACLES: dict[str, str] = {
    "batched_reachability": BATCHED_REACH_SQL.format(
        edges_cte=linkgraph.EDGES_CTE.strip().rstrip(",")
    ),
    "spanning_forest_size": SPANNING_FOREST_SIZE_SQL.format(
        edges_cte=linkgraph.EDGES_CTE.strip().rstrip(",")
    ),
}
