"""Round-5 operators: HITS, personalized PageRank, TF-IDF, term postings."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from landscape_spark import linkgraph
from landscape_spark.graph.hits import hits
from landscape_spark.graph.pagerank import pagerank, personalized_pagerank
from landscape_spark.text.tfidf import term_frequencies, term_postings, tfidf_topk
from tests.conftest import assert_no_litter, persisted


def _verts(spark, n):
    return spark.range(n).select(F.col("id").alias("v"))


# ---------------------------------------------------------------------------
# HITS
# ---------------------------------------------------------------------------

def test_hits_star_graph(spark):
    # 1,2,3 all point at 0: vertex 0 is the only authority (score 1),
    # vertices 1-3 are equal hubs (1/3 each); 0 is no hub, 1-3 no authority.
    e = spark.createDataFrame([(1, 0), (2, 0), (3, 0)], "src long, dst long")
    before = persisted(spark)
    out = hits(e, _verts(spark, 4), 4, iters=3)
    got = {r.v: (r.authority, r.hub) for r in out.collect()}
    assert_no_litter(spark, before, out)
    assert got[0][0] == 1.0 and got[0][1] == 0.0
    for v in (1, 2, 3):
        assert abs(got[v][1] - 1 / 3) < 1e-12 and got[v][0] == 0.0


def test_hits_empty_graph_all_zero(spark):
    e = spark.createDataFrame([], "src long, dst long")
    rows = hits(e, _verts(spark, 5), 5, iters=2).collect()
    assert len(rows) == 5
    assert all(r.authority == 0.0 and r.hub == 0.0 for r in rows)


def test_hits_l1_normalized_and_positive(spark, sf_small):
    e = linkgraph.directed_edges(spark, sf_small)
    n = linkgraph.num_vertices(spark, sf_small)
    out = hits(e, _verts(spark, n), n, iters=4)
    sums = out.agg(F.sum("authority"), F.sum("hub")).first()
    assert abs(sums[0] - 1.0) < 1e-9 and abs(sums[1] - 1.0) < 1e-9
    assert out.where("authority < 0 OR hub < 0").count() == 0


def test_hits_python_reference(spark):
    # 6-vertex digraph vs a direct numpy-free reference implementation
    edges = [(0, 1), (0, 2), (1, 2), (2, 3), (3, 1), (4, 2), (4, 5)]
    n, iters = 6, 5
    h = [1.0 / n] * n
    a = [0.0] * n
    for _ in range(iters):
        a_raw = [0.0] * n
        for s, d in edges:
            a_raw[d] += h[s]
        z = sum(a_raw)
        a = [x / z if z > 0 else 0.0 for x in a_raw]
        h_raw = [0.0] * n
        for s, d in edges:
            h_raw[s] += a[d]
        z = sum(h_raw)
        h = [x / z if z > 0 else 0.0 for x in h_raw]
    e = spark.createDataFrame(edges, "src long, dst long")
    got = {r.v: (r.authority, r.hub) for r in hits(e, _verts(spark, n), n, iters=iters).collect()}
    for v in range(n):
        assert abs(got[v][0] - a[v]) < 1e-12
        assert abs(got[v][1] - h[v]) < 1e-12


# ---------------------------------------------------------------------------
# Personalized PageRank
# ---------------------------------------------------------------------------

def test_ppr_sums_to_one_and_teleport_locality(spark, sf_small):
    e = linkgraph.directed_edges(spark, sf_small)
    n = linkgraph.num_vertices(spark, sf_small)
    before = persisted(spark)
    out = personalized_pagerank(e, _verts(spark, n), n, seeds=[0, 1], iters=8)
    assert abs(out.agg(F.sum("ppr_score")).first()[0] - 1.0) < 1e-9
    assert_no_litter(spark, before, out)
    # seeds hold at least the undamped teleport share
    seed_mass = out.where("v IN (0, 1)").agg(F.sum("ppr_score")).first()[0]
    assert seed_mass >= 0.15 - 1e-9


def test_ppr_unreachable_vertex_gets_zero(spark):
    # 0 -> 1, isolated vertex 2; seed {0}: vertex 2 is unreachable from the
    # teleport set so its score is exactly 0 at every iteration.
    e = spark.createDataFrame([(0, 1)], "src long, dst long")
    got = {r.v: r.ppr_score for r in
           personalized_pagerank(e, _verts(spark, 3), 3, seeds=[0], iters=6).collect()}
    assert got[2] == 0.0
    assert got[0] > 0 and got[1] > 0


def test_ppr_uniform_seeds_equals_pagerank(spark, sf_small):
    # With the seed set = ALL vertices, p is the uniform vector and the
    # recurrence is exactly standard PageRank (same r0, same update).
    e = linkgraph.directed_edges(spark, sf_small)
    n = linkgraph.num_vertices(spark, sf_small)
    a = personalized_pagerank(e, _verts(spark, n), n, seeds=list(range(n)), iters=6)
    b = pagerank(e, _verts(spark, n), n, iters=6)
    joined = a.join(b, on="v").select(
        F.max(F.abs(F.col("ppr_score") - F.col("pr_score"))).alias("d")
    )
    assert joined.first()[0] < 1e-12


# ---------------------------------------------------------------------------
# TF-IDF / postings
# ---------------------------------------------------------------------------

def _docs(spark, texts):
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )


def test_tfidf_hand_computed(spark):
    docs = _docs(spark, ["cat cat dog", "dog fish", "cat fish fish fish"])
    out = {(r.doc_id, r.term): (r.tfidf, r.rk) for r in tfidf_topk(docs, k=2).collect()}
    n = 3
    idf = {"cat": math.log(n / 2), "dog": math.log(n / 2), "fish": math.log(n / 2)}
    # doc 0: cat tf=2 -> top; dog tf=1
    assert out[(0, "cat")][1] == 1
    assert abs(out[(0, "cat")][0] - round(2 * idf["cat"], 6)) < 1e-12
    assert out[(0, "dog")][1] == 2
    # doc 2: fish tf=3 top, cat second
    assert out[(2, "fish")][1] == 1
    assert abs(out[(2, "fish")][0] - round(3 * idf["fish"], 6)) < 1e-12
    assert out[(2, "cat")][1] == 2


def test_tfidf_ubiquitous_term_scores_zero_and_tiebreak(spark):
    # 'the' appears in every doc -> idf = ln(1) = 0; equal-score ties break
    # by term ASC.
    docs = _docs(spark, ["the aa bb", "the aa bb", "the cc"])
    rows = tfidf_topk(docs, k=3).where("doc_id = 0").orderBy("rk").collect()
    # aa and bb tie (same tf, same df) -> aa before bb; 'the' scores 0 last
    assert [r.term for r in rows] == ["aa", "bb", "the"]
    assert rows[2].tfidf == 0.0


def test_term_frequencies_and_postings(spark):
    docs = _docs(spark, ["a b a", "b c", "a"])
    tf = {(r.doc_id, r.term): r.tf for r in term_frequencies(docs).collect()}
    assert tf[(0, "a")] == 2 and tf[(0, "b")] == 1 and tf[(2, "a")] == 1
    post = {r.term: (r.df, r.cf, r.min_doc, r.max_doc) for r in term_postings(docs).collect()}
    assert post["a"] == (2, 3, 0, 2)
    assert post["b"] == (2, 2, 0, 1)
    assert post["c"] == (1, 1, 1, 1)
    # min_df filter
    assert {r.term for r in term_postings(docs, min_df=2).collect()} == {"a", "b"}


def test_tfidf_vt_whitespace_portable(spark):
    # vertical tab must split tokens identically to the other text ops
    # (explicit ASCII class, not Java \s)
    docs = _docs(spark, ["x\x0by z"])
    tf = {r.term: r.tf for r in term_frequencies(docs).collect()}
    assert tf == {"x": 1, "y": 1, "z": 1}
