"""Exact-CC correctness vs networkx and the reference's golden fixture.

The 78-component assertion ports the reference's strongest exact test
(/root/reference/test/distributed_graph_test.cpp:30-46, multiples_graph_1024).
"""

from __future__ import annotations

import warnings

import networkx as nx
import numpy as np
import pytest
from pyspark.sql import functions as F

import landscape_spark.graph.cc as cc
from landscape_spark import linkgraph
from landscape_spark.graph.cc import connected_components_exact
from tests.conftest import assert_no_litter, persisted


def _nx_canonical_components(edges, n):
    g = nx.Graph()
    g.add_nodes_from(range(n))
    g.add_edges_from(edges)
    return {v: min(c) for c in nx.connected_components(g) for v in c}


def multiples_graph_edges(n=1024):
    """Edges (i, j*i) for i>=2, j>=2, j*i<n — reference golden graph."""
    return [(i, j * i) for i in range(2, n) for j in range(2, (n - 1) // i + 1)]


def test_cc_multiples_graph_78_components(spark):
    n = 1024
    edges = multiples_graph_edges(n)
    oracle = _nx_canonical_components(edges, n)
    assert len(set(oracle.values())) == 78  # reference golden value

    e = spark.createDataFrame(
        [(min(a, b), max(a, b)) for a, b in edges], "a long, b long"
    ).distinct()
    v = spark.range(n).select(F.col("id").alias("v"))
    got = {r.v: r.comp for r in connected_components_exact(e, v).collect()}
    assert got == oracle


def test_cc_on_derived_linkgraph(spark, sf_small):
    und = linkgraph.undirected_edges(spark, sf_small)
    n = linkgraph.num_vertices(spark, sf_small)
    verts = linkgraph.vertices(spark, sf_small)
    edges = [(r.a, r.b) for r in und.collect()]
    oracle = _nx_canonical_components(edges, n)
    got = {r.v: r.comp for r in connected_components_exact(und, verts).collect()}
    assert got == oracle


def test_cc_isolated_vertices(spark):
    e = spark.createDataFrame([(0, 1)], "a long, b long")
    v = spark.range(5).select(F.col("id").alias("v"))
    got = {r.v: r.comp for r in connected_components_exact(e, v).collect()}
    assert got == {0: 0, 1: 0, 2: 2, 3: 3, 4: 4}


def test_cc_long_path_diameter(spark):
    """Path of 300 vertices (diameter 299): exact CC must still converge —
    regression for the diameter-bound iteration cap that silently mislabeled
    long-path tails at n=65536 (found via sketch-vs-exact cross-validation)."""
    n = 300
    edges = [(i, i + 1) for i in range(n - 1)]
    e = spark.createDataFrame(edges, "a long, b long")
    v = spark.range(n).select(F.col("id").alias("v"))
    got = {r.v: r.comp for r in connected_components_exact(e, v).collect()}
    assert got == {i: 0 for i in range(n)}


def _shuffled_path(spark, n, seed):
    """A path over a seeded permutation of 0..n-1: its ids follow no order,
    so no round can hook it in one sweep. Built through Arrow."""
    perm = np.random.default_rng(seed).permutation(n)
    a, b = perm[:-1], perm[1:]
    e = cc._local_frame(
        spark, {"a": np.minimum(a, b), "b": np.maximum(a, b)}, "a long, b long"
    )
    return e, spark.range(n).select(F.col("id").alias("v"))


def test_cc_exact_warns_on_round_budget_exhaustion(spark):
    """Exhausting max_iter while edges are still live must WARN — a
    silently wrong golden-path result would validate or falsify sketch CC.
    A sorted path converges in one hook round, so the budget is exhausted
    on a shuffled one."""
    path, verts = _shuffled_path(spark, 64, seed=5)
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        connected_components_exact(path, verts, max_iter=1).count()
    assert any("did not converge" in str(x.message) for x in w)
    # and a converged run stays silent
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        got = {r.v: r.comp for r in connected_components_exact(path, verts).collect()}
    assert not any("did not converge" in str(x.message) for x in w)
    assert set(got.values()) == {0}


@pytest.mark.parametrize("threshold", [None, 0], ids=["driver", "distributed"])
def test_cc_shuffled_path_round_bound(spark, monkeypatch, threshold):
    """Hook-and-shortcut rounds are logarithmic, not diameter-bound: a
    shuffled 65536-vertex path (diameter 65535) converges within 20 rounds,
    on the driver and with every round distributed (threshold 0)."""
    if threshold is not None:
        monkeypatch.setattr(cc, "COLLECT_THRESHOLD", threshold)
    path, verts = _shuffled_path(spark, 1 << 16, seed=11)
    before = persisted(spark)
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        out = connected_components_exact(path, verts, max_iter=20)
        got = out.toArrow()
    assert not any("did not converge" in str(x.message) for x in w)
    assert got.num_rows == 1 << 16
    assert not got.column("comp").to_numpy().any()
    assert_no_litter(spark, before, out)
