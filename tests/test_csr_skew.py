"""CSR-block SpMV PageRank (treeAggregate path) and salted skew handling."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from landscape_spark import linkgraph
from landscape_spark.graph.csr import build_csr_blocks, pagerank_csr
from landscape_spark.graph.pagerank import pagerank
from landscape_spark.sketch.build import build_group_slices, group_cols
from landscape_spark.sketch.l0 import SketchParams
from tests.conftest import assert_no_litter, persisted


def test_csr_blocks_cover_all_edges(spark, sf_small):
    e = linkgraph.directed_edges(spark, sf_small)
    m = e.count()
    csr = build_csr_blocks(e, num_partitions=4)
    rows = [
        (
            np.frombuffer(r.vids, dtype=np.int64),
            np.frombuffer(r.indptr, dtype=np.int64),
            np.frombuffer(r.indices, dtype=np.int64),
        )
        for r in csr.collect()
    ]
    total = sum(len(indices) for _, _, indices in rows)
    assert total == m
    for vids, indptr, indices in rows:
        assert len(indptr) == len(vids) + 1
        assert indptr[-1] == len(indices)
        # partition invariant: every src vid appears once in its block
        assert len(np.unique(vids)) == len(vids)


def test_pagerank_csr_equals_join_pagerank(spark, sf_small):
    """The mapPartitions-CSR + treeAggregate path and the join-groupBy path
    must agree to float-summation noise."""
    e = linkgraph.directed_edges(spark, sf_small)
    n = linkgraph.num_vertices(spark, sf_small)
    verts = linkgraph.vertices(spark, sf_small)
    a = {r.v: r.pr_score for r in pagerank_csr(spark, e, n, iters=15, num_partitions=4).collect()}
    b = {r.v: r.pr_score for r in pagerank(e, verts, n, iters=15).collect()}
    assert set(a) == set(b)
    for v in a:
        assert a[v] == pytest.approx(b[v], abs=1e-12)


def test_pagerank_csr_dense_regime_guard(spark, sf_small):
    """Above dense_threshold the CSR path refuses (driver-resident CSR is
    the dense-vector regime only); the join path is the scale path."""
    e = linkgraph.directed_edges(spark, sf_small)
    n = linkgraph.num_vertices(spark, sf_small)
    with pytest.raises(ValueError, match="dense"):
        pagerank_csr(spark, e, n, iters=1, dense_threshold=1)


def test_salted_build_bit_identical(spark):
    """Salted (two-phase) slice build == unsalted build, bit for bit in every
    g{i} column — linearity makes skew handling semantics-free."""
    rng = np.random.default_rng(1)
    n = 256
    # heavy hub skew: half of all edges touch vertex 0
    edges = {(0, int(x)) for x in rng.integers(1, n, 300)} | {
        (int(min(a, b)), int(max(a, b)))
        for a, b in rng.integers(0, n, (300, 2))
        if a != b
    }
    e = spark.createDataFrame(sorted(edges), "a long, b long")
    params = SketchParams.for_graph(n, seed=9)
    cols = group_cols(params)

    def rows(salt):
        built = build_group_slices(e, params, num_partitions=4, salt=salt)
        return {r.vid: tuple(bytes(r[c]) for c in cols) for r in built.collect()}

    plain = rows(1)
    assert len(plain) == len({v for ed in edges for v in ed})
    assert plain == rows(8)


def test_pagerank_csr_blocked_matches_join_path(spark, sf_small):
    """The sharded-rank-vector path (n beyond the dense/broadcast regime)
    must equal the join path to float-sum reordering, including with a
    shard count that does NOT divide n (ragged last shard)."""
    from landscape_spark import linkgraph
    from landscape_spark.graph.csr import pagerank_csr_blocked
    from landscape_spark.graph.pagerank import pagerank

    n = linkgraph.num_vertices(spark, sf_small)
    e = linkgraph.directed_edges(spark, sf_small)
    verts = linkgraph.vertices(spark, sf_small)
    ref = {r.v: r.pr_score for r in pagerank(e, verts, n, iters=8).collect()}
    before = persisted(spark)
    out = pagerank_csr_blocked(spark, e, n, iters=8, shards=7)
    got = {r.v: r.pr_score for r in out.collect()}
    assert_no_litter(spark, before, out)
    assert set(got) == set(ref) and len(got) == n
    assert max(abs(ref[v] - got[v]) for v in ref) < 1e-12


def test_pagerank_csr_blocked_all_dangling_uniform(spark):
    """No edges at all: every shard is dangling (deg_rows is EMPTY — the
    left-join path), and the result must be the uniform distribution."""
    from landscape_spark.graph.csr import pagerank_csr_blocked

    empty = spark.createDataFrame([], "src long, dst long")
    got = {r.v: r.pr_score for r in pagerank_csr_blocked(spark, empty, 10, iters=5, shards=3).collect()}
    assert len(got) == 10
    assert all(abs(v - 0.1) < 1e-12 for v in got.values())


def test_pagerank_csr_blocked_keeps_caller_cached_deg_rows(spark, sf_small):
    """A deg_rows table the caller cached and passed via blocks= is the
    caller's to release: the PageRank call must leave it cached."""
    from pyspark import StorageLevel

    from landscape_spark.graph.csr import build_blocked_csr, pagerank_csr_blocked

    n = linkgraph.num_vertices(spark, sf_small)
    e = linkgraph.directed_edges(spark, sf_small)
    blocks, deg_rows = build_blocked_csr(e, n, 4, num_partitions=4)
    blocks, deg_rows = blocks.persist(), deg_rows.persist()
    blocks.count(), deg_rows.count()
    try:
        pagerank_csr_blocked(
            spark, e, n, iters=2, shards=4, num_partitions=4, blocks=(blocks, deg_rows)
        ).count()
        assert blocks.storageLevel != StorageLevel.NONE
        assert deg_rows.storageLevel != StorageLevel.NONE
    finally:
        blocks.unpersist()
        deg_rows.unpersist()
