"""PageRank vs numpy dense oracle — allclose 1e-6 at convergence (north rule)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from landscape_spark import linkgraph
from landscape_spark.graph.pagerank import pagerank
from tests.oracles import pagerank_oracle
from tests.conftest import assert_no_litter, persisted


def test_pagerank_matches_oracle(spark, sf_small):
    e = linkgraph.directed_edges(spark, sf_small)
    n = linkgraph.num_vertices(spark, sf_small)
    verts = linkgraph.vertices(spark, sf_small)

    edges = [(r.src, r.dst) for r in e.collect()]
    oracle = pagerank_oracle(edges, n)

    before = persisted(spark)
    out = pagerank(e, verts, n, iters=200, tol=1e-10)
    got = {r.v: r.pr_score for r in out.collect()}
    assert_no_litter(spark, before, out)
    assert len(got) == n
    for v in range(n):
        assert got[v] == pytest.approx(oracle[v], abs=1e-6)
    assert sum(got.values()) == pytest.approx(1.0, abs=1e-9)


def test_pagerank_dangling_uniform(spark):
    """2 -> 0, 2 -> 1; 0 and 1 dangling. Symmetric scores for 0/1."""
    e = spark.createDataFrame([(2, 0), (2, 1)], "src long, dst long")
    v = spark.range(3).select(F.col("id").alias("v"))
    got = {r.v: r.pr_score for r in pagerank(e, v, 3, iters=300, tol=1e-13).collect()}
    assert got[0] == pytest.approx(got[1], abs=1e-12)
    oracle = pagerank_oracle([(2, 0), (2, 1)], 3)
    for k in range(3):
        assert got[k] == pytest.approx(oracle[k], abs=1e-6)


def test_pagerank_checkpoint_resume(spark, sf_small, tmp_path):
    """Kill-and-resume parity (north rule: resumable from checkpoint with
    per-partition lineage): 4 iterations with durable checkpoints, then
    resume_pagerank to 10, equals an uninterrupted 10-iteration run."""
    import json
    import os

    from landscape_spark.graph.pagerank import resume_pagerank

    e = linkgraph.directed_edges(spark, sf_small)
    n = linkgraph.num_vertices(spark, sf_small)
    verts = linkgraph.vertices(spark, sf_small)
    ckdir = str(tmp_path / "pr_ck")

    # "crash" after 4 iterations (checkpoints land at 2 and 4)
    pagerank(e, verts, n, iters=4, checkpoint_dir=ckdir, checkpoint_every=2).count()
    lineage_path = os.path.join(ckdir, "pagerank", "round=4", "lineage.json")
    with open(lineage_path) as f:
        lineage = json.load(f)
    assert lineage["state"]["iteration"] == 4
    assert lineage["tables"]["ranks"]["rows"] == n
    assert sum(lineage["tables"]["ranks"]["partition_rows"]) == n

    resumed = {
        r.v: r.pr_score
        for r in resume_pagerank(e, verts, n, ckdir, iters=10).collect()
    }
    straight = {r.v: r.pr_score for r in pagerank(e, verts, n, iters=10).collect()}
    assert set(resumed) == set(straight)
    for v in resumed:
        assert resumed[v] == pytest.approx(straight[v], abs=1e-12)


def test_pagerank_lineage_every_clamped(spark, sf_small):
    """A caller-supplied huge lineage_every must not hand Catalyst an
    exponentially-growing lazy plan: values clamp to <=4 cuts-batch, and
    results stay identical to the per-iteration path."""
    import time

    n = linkgraph.num_vertices(spark, sf_small)
    e = linkgraph.directed_edges(spark, sf_small)
    verts = linkgraph.vertices(spark, sf_small)
    base = {r.v: r.pr_score for r in pagerank(e, verts, n, iters=8, lineage_every=1).collect()}
    t0 = time.time()
    big = {r.v: r.pr_score for r in pagerank(e, verts, n, iters=8, lineage_every=50).collect()}
    elapsed = time.time() - t0
    assert big == pytest.approx(base, abs=1e-15)
    # unclamped B=8 doubles the plan 8x (~2^8 nodes) and took minutes;
    # clamped runs in normal time
    assert elapsed < 60, f"clamp ineffective? {elapsed:.0f}s"


def test_pagerank_weighted_python_reference(spark):
    """Weighted power iteration vs a direct Python reference: rank splits
    proportional to edge weight, dangling mass uniform."""
    edges = [(0, 1, 3.0), (0, 2, 1.0), (1, 2, 2.0), (3, 0, 5.0)]
    n, iters, d = 5, 6, 0.85
    r = [1.0 / n] * n
    W = {}
    for s, _, w in edges:
        W[s] = W.get(s, 0.0) + w
    for _ in range(iters):
        contrib = [0.0] * n
        for s, t, w in edges:
            contrib[t] += r[s] * w / W[s]
        dang = sum(r[v] for v in range(n) if v not in W)
        r = [(1 - d) / n + d * (contrib[v] + dang / n) for v in range(n)]
    from pyspark.sql import functions as F

    from landscape_spark.graph.pagerank import pagerank

    e = spark.createDataFrame(edges, "src long, dst long, w double")
    verts = spark.range(n).select(F.col("id").alias("v"))
    got = {row.v: row.pr_score for row in
           pagerank(e, verts, n, iters=iters, weight_col="w").collect()}
    for v in range(n):
        assert got[v] == pytest.approx(r[v], abs=1e-12)


def test_pagerank_unit_weights_equal_unweighted(spark, sf_small):
    """weight_col with all-1 weights must reproduce the unweighted values
    exactly — the weighted path changes arithmetic only through w."""
    from pyspark.sql import functions as F

    from landscape_spark import linkgraph
    from landscape_spark.graph.pagerank import pagerank

    e = linkgraph.directed_edges(spark, sf_small).withColumn("one", F.lit(1))
    n = linkgraph.num_vertices(spark, sf_small)
    verts = linkgraph.vertices(spark, sf_small)
    a = sorted((r.v, r.pr_score) for r in pagerank(e, verts, n, iters=4).collect())
    b = sorted(
        (r.v, r.pr_score)
        for r in pagerank(e, verts, n, iters=4, weight_col="one").collect()
    )
    assert a == b
