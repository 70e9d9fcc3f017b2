"""Sketch-CC end-to-end: Boruvka over distributed l0 sketches must equal the
exact min-label components — including the reference's 78-component golden
graph (/root/reference/test/distributed_graph_test.cpp:30-46)."""

from __future__ import annotations

import networkx as nx
import pytest
from pyspark.sql import functions as F

from landscape_spark import linkgraph
from landscape_spark.sketch.boruvka import (
    components_with_isolated,
    connected_components_sketch,
)
from landscape_spark.sketch.l0 import SketchParams
from tests.test_cc import _nx_canonical_components, multiples_graph_edges


def _run(spark, edges, n, seed=42):
    e = spark.createDataFrame(
        sorted({(min(a, b), max(a, b)) for a, b in edges}), "a long, b long"
    )
    v = spark.range(n).select(F.col("id").alias("v"))
    params = SketchParams.for_graph(n, seed=seed)
    vmap = connected_components_sketch(spark, e, n, params, num_partitions=8)
    full = components_with_isolated(spark, vmap, v)
    return {r.v: r.comp for r in full.collect()}


def test_sketch_cc_small_path(spark):
    got = _run(spark, [(0, 1), (1, 2), (3, 4)], 6)
    assert got == {0: 0, 1: 0, 2: 0, 3: 3, 4: 3, 5: 5}


def test_sketch_cc_multiples_1024(spark):
    n = 1024
    edges = multiples_graph_edges(n)
    oracle = _nx_canonical_components(edges, n)
    got = _run(spark, edges, n)
    assert got == oracle
    assert len(set(got.values())) == 78


def test_sketch_cc_derived_linkgraph(spark, sf_small):
    und = linkgraph.undirected_edges(spark, sf_small)
    n = linkgraph.num_vertices(spark, sf_small)
    edges = [(r.a, r.b) for r in und.collect()]
    oracle = _nx_canonical_components(edges, n)
    got = _run(spark, edges, n)
    assert got == oracle


@pytest.mark.parametrize("trial", range(3))
def test_sketch_cc_random_insert_delete(spark, trial):
    """Randomized insert/delete stream (reference test shape,
    distributed_graph_test.cpp:8-28): net-presence graph vs oracle."""
    import random

    rng = random.Random(100 + trial)
    n = 256
    present: set[tuple[int, int]] = set()
    stream = []
    for _ in range(2000):
        a, b = rng.randrange(n), rng.randrange(n)
        if a == b:
            continue
        e = (min(a, b), max(a, b))
        stream.append(e)
        present ^= {e}
    # replay stream with XOR semantics: odd-count edges present
    from collections import Counter

    cnt = Counter(stream)
    net = [e for e, c in cnt.items() if c % 2 == 1]
    assert set(net) == present
    oracle = _nx_canonical_components(net, n)
    got = _run(spark, net, n, seed=trial)
    assert got == oracle


def test_star_contraction_matches_nx(spark, monkeypatch):
    """Exact CC (graph/cc.py) against networkx on a messy
    multi-component pair graph, finished on the driver and with every round
    distributed (COLLECT_THRESHOLD 0)."""
    import networkx as nx

    import landscape_spark.graph.cc as cc

    rng = __import__("random").Random(7)
    pairs = set()
    for _ in range(300):
        a, b = rng.randrange(200), rng.randrange(200)
        if a != b:
            pairs.add((a, b))
    g = nx.Graph(pairs)
    df = spark.createDataFrame(sorted(pairs), "a long, b long")
    ends = df.select(F.col("a").alias("v")).unionAll(df.select(F.col("b").alias("v")))
    for threshold in (cc.COLLECT_THRESHOLD, 0):
        monkeypatch.setattr(cc, "COLLECT_THRESHOLD", threshold)
        remap = {r.v: r.comp for r in cc.connected_components_exact(df, ends).collect()}
        for comp in nx.connected_components(g):
            root = min(comp)
            for v in comp:
                assert remap.get(v, v) == root


def test_sketch_partitions_bounds():
    """The shuffle sizing is ceil(sketch bytes / per-task target), in
    [1, cap]: a small sketch table runs one task, a large one the cap."""
    from landscape_spark.sketch.build import sketch_partitions, slice_row_bytes

    for rows in (0, 1, 64, 1000, 1 << 14, 1 << 20):
        for cap in (1, 4, 8, 32):
            p = sketch_partitions(rows, 8192, cap)
            assert 1 <= p <= cap
    row = slice_row_bytes(SketchParams.for_graph(256))
    assert sketch_partitions(256, row, 8) == 1
    assert sketch_partitions(1000, slice_row_bytes(SketchParams.for_graph(1000)), 8) == 2
    big = SketchParams.for_graph(1 << 14)
    assert sketch_partitions(big.n, slice_row_bytes(big), 8) == 8
    assert sketch_partitions(big.n, big.nbytes, 8) == 8


def test_slice_build_and_merge_independent_of_partitions(spark, monkeypatch):
    """build_group_slices and xor_merge_slices give byte-identical rows at 1
    partition, at 8 (a per-task target small enough to hit the cap) and at
    the sized count: the XOR fold is linear, so sizing moves only the task
    boundaries."""
    import random

    from landscape_spark.sketch import build

    rng = random.Random(5)
    n = 200
    pairs = ((rng.randrange(n), rng.randrange(n)) for _ in range(900))
    edges = sorted({(a, b) for a, b in pairs if a < b})
    e = spark.createDataFrame(edges, "a long, b long")
    half = spark.createDataFrame(edges[::2], "a long, b long")
    params = SketchParams.for_graph(n, seed=4)

    def rows(df):
        return sorted((r[0], *(bytes(x) for x in r[1:])) for r in df.collect())

    def run(cap):
        built = build.build_group_slices(e, params, cap)
        merged = build.xor_merge_slices(
            built.unionAll(build.build_group_slices(half, params, cap)), "vid", params, cap
        )
        return built, merged

    sized_parts = build.sketch_partitions(n, build.slice_row_bytes(params), 8)
    out = {}
    for label, cap, target, parts in (
        ("one", 1, build.TASK_SKETCH_BYTES, 1),
        ("cap", 8, 1, 8),
        ("sized", 8, build.TASK_SKETCH_BYTES, sized_parts),
    ):
        monkeypatch.setattr(build, "TASK_SKETCH_BYTES", target)
        built, merged = run(cap)
        assert merged.rdd.getNumPartitions() == parts
        out[label] = (rows(built), rows(merged))
    assert out["one"] == out["cap"] == out["sized"]
