"""k-spanning-forest certificate tests (reference analog:
/root/reference/test/k_connectivity_test.cpp:6-30 and
src/graph_distrib_update.cpp:156-209)."""

from __future__ import annotations

import networkx as nx
from pyspark.sql import functions as F

from landscape_spark.sketch.boruvka import (
    batched_reachability,
    components_with_isolated,
    connected_components_sketch,
    k_spanning_forests,
    point_to_point_query,
)


def _forests(spark, edges, n, k, seed=42):
    e = spark.createDataFrame(
        sorted({(min(a, b), max(a, b)) for a, b in edges}), "a long, b long"
    )
    df = k_spanning_forests(spark, e, n, k, seed=seed, num_partitions=4)
    out: dict[int, set[tuple[int, int]]] = {}
    for r in df.collect():
        out.setdefault(r.forest_id, set()).add((r.a, r.b))
    return out


def test_cycle_two_forests(spark):
    """Cycle C8 is 2-edge-connected: forest0 = 7 edges (spanning tree),
    forest1 = the remaining edge; union = all 8 edges."""
    n = 8
    edges = [(i, (i + 1) % n) for i in range(n)]
    f = _forests(spark, edges, n, k=2)
    all_edges = {(min(a, b), max(a, b)) for a, b in edges}
    assert len(f[0]) == n - 1
    assert len(f[1]) == 1
    assert f[0] | f[1] == all_edges
    assert not (f[0] & f[1])  # edge-disjoint


def test_forests_edge_disjoint_and_spanning(spark):
    """Random graph: forest 0 must be a spanning forest (same components as
    the graph); all forests pairwise edge-disjoint and cycle-free."""
    import random

    rng = random.Random(7)
    n = 64
    edges = {(min(a, b), max(a, b)) for a, b in ((rng.randrange(n), rng.randrange(n)) for _ in range(300)) if a != b}
    f = _forests(spark, sorted(edges), n, k=3)
    g = nx.Graph(sorted(edges))
    g.add_nodes_from(range(n))
    # forest 0 spans: same number of components over edge-incident vertices
    f0 = nx.Graph(sorted(f[0]))
    f0.add_nodes_from(g.nodes)
    assert nx.number_connected_components(f0) == nx.number_connected_components(g)
    assert len(f[0]) == n - nx.number_connected_components(g)
    seen: set[tuple[int, int]] = set()
    for t, fe in f.items():
        assert not (fe & seen), f"forest {t} reuses edges"
        seen |= fe
        assert fe <= edges  # only true edges
        ft = nx.Graph(sorted(fe))
        assert nx.is_forest(ft)


def test_certificate_preserves_2edge_connectivity(spark):
    """Union of 2 forests preserves 2-edge-connectivity (Nagamochi–Ibaraki
    style certificate): bridges stay bridges, 2-connected pairs stay 2-connected."""
    # two C6 cycles joined by ONE bridge edge
    c1 = [(i, (i + 1) % 6) for i in range(6)]
    c2 = [(6 + i, 6 + (i + 1) % 6) for i in range(6)]
    bridge = [(0, 6)]
    edges = c1 + c2 + bridge
    f = _forests(spark, edges, 12, k=2)
    cert = nx.Graph(sorted(f.get(0, set()) | f.get(1, set())))
    cert.add_nodes_from(range(12))
    g = nx.Graph(edges)
    # same connectivity
    assert nx.number_connected_components(cert) == nx.number_connected_components(g)
    # 2-edge-connected within each cycle is preserved in the certificate
    assert nx.edge_connectivity(cert, 0, 3) >= 2
    assert nx.edge_connectivity(cert, 6, 9) >= 2
    # the bridge is still a bridge (certificate can't create connectivity)
    assert nx.edge_connectivity(cert, 0, 6) == 1


def test_point_queries(spark):
    e = spark.createDataFrame([(0, 1), (2, 3)], "a long, b long")
    v = spark.range(5).select(F.col("id").alias("v"))
    vmap = connected_components_sketch(spark, e, 5, num_partitions=2)
    cc = components_with_isolated(spark, vmap, v).cache()
    assert point_to_point_query(cc, 0, 1) is True
    assert point_to_point_query(cc, 0, 2) is False
    assert point_to_point_query(cc, 4, 4) is True
    pairs = spark.createDataFrame([(0, 1), (1, 2), (2, 3), (0, 4)], "a long, b long")
    got = {(r.a, r.b): r.connected for r in batched_reachability(cc, pairs).collect()}
    assert got == {(0, 1): True, (1, 2): False, (2, 3): True, (0, 4): False}


def test_boruvka_pass_matches_exact(spark):
    """One Borůvka pass loop over every group: the labels equal exact CC's
    and the forest is a duplicate-free, acyclic spanning forest of the
    graph."""
    import random

    from landscape_spark.sketch.boruvka import _boruvka_passes
    from landscape_spark.sketch.build import build_group_slices
    from landscape_spark.sketch.l0 import SketchParams

    rng = random.Random(13)
    n = 96
    edges = sorted(
        {
            (min(a, b), max(a, b))
            for a, b in ((rng.randrange(n), rng.randrange(n)) for _ in range(260))
            if a != b
        }
    )
    e = spark.createDataFrame(edges, "a long, b long")
    params = SketchParams.for_graph(n, seed=3)
    slices = build_group_slices(e, params, num_partitions=4).localCheckpoint(
        eager=True
    )
    vmap, pairs, _ = _boruvka_passes(
        spark,
        slices,
        None,
        params,
        start_group=0,
        end_group=params.rounds,
        num_partitions=4,
    )
    g = nx.Graph(edges)
    oracle = {v: min(c) for c in nx.connected_components(g) for v in c}
    got = {r.v: r.comp for r in vmap.collect()}
    assert got == oracle
    fe = list(map(tuple, pairs.tolist()))
    assert len(fe) == len(set(fe)) and set(fe) <= set(edges)
    fg = nx.Graph(fe)
    fg.add_nodes_from(g.nodes)
    assert nx.is_forest(nx.Graph(fe))
    assert nx.number_connected_components(fg) == nx.number_connected_components(g)


def test_budget_exhaustion_policy_shared(spark):
    """CC and the k-forest passes share one exhaustion policy: a group
    budget too small for the graph warns from _cc_rounds and from a forest
    pass; a connected graph that converges on its last budgeted group does
    not warn from either."""
    import warnings

    import pytest

    from landscape_spark.sketch.boruvka import _boruvka_passes, _cc_rounds
    from landscape_spark.sketch.build import build_group_slices
    from landscape_spark.sketch.l0 import SketchParams

    def slices_of(edges, params):
        e = spark.createDataFrame(edges, "a long, b long")
        return build_group_slices(e, params, num_partitions=4).localCheckpoint(eager=True)

    n = 256
    base = SketchParams.for_graph(n, seed=5)
    one = SketchParams(n=n, rounds=1, cols=base.cols, depths=base.depths, seed=5)
    # one Boruvka group cannot connect a 256-vertex path
    path = [(i, i + 1) for i in range(n - 1)]
    with pytest.warns(RuntimeWarning, match="budget exhausted"):
        _cc_rounds(spark, slices_of(path, one), None, one, num_partitions=4)
    # a later forest pass with a one-group budget, as k_spanning_forests calls it
    with pytest.warns(RuntimeWarning, match="budget exhausted"):
        _boruvka_passes(spark, slices_of(path, base), None, base, 2, 3, 4)

    # every leaf of a star holds exactly one edge, which its deterministic
    # bucket always samples: the single budgeted group connects the graph
    star = [(0, i) for i in range(1, 32)]
    with warnings.catch_warnings():
        warnings.simplefilter("error", RuntimeWarning)
        vmap = _cc_rounds(spark, slices_of(star, one), None, one, num_partitions=4)
        _, pairs, used = _boruvka_passes(spark, slices_of(star, base), None, base, 2, 3, 4)
    assert {r.comp for r in vmap.collect()} == {0}
    assert sorted(map(tuple, pairs.tolist())) == star and used == 1
