"""Round-5 graph operators: BFS distances, coreness, SCC, clustering
coefficient, Adamic-Adar link prediction — each vs an independent pure-
Python oracle on randomized graphs, plus the specific invariants the
module/oracle docstrings promise (depth-bound no-op, H-operator
fixpointedness, cap containment)."""

from __future__ import annotations

import random
from collections import deque

import duckdb
import pytest
from pyspark.sql import functions as F

from landscape_spark import linkgraph
from landscape_spark.graph.kcore import coreness, k_core
from landscape_spark.graph.linkpred import adamic_adar_topk
from landscape_spark.graph.scc import strongly_connected_components
from landscape_spark.graph.traversal import bfs_distances
from landscape_spark.graph.triangles import clustering_coefficient
from tests.conftest import assert_no_litter, persisted


def _verts(spark, n):
    return spark.range(n).select(F.col("id").alias("v"))


def _rand_digraph(seed, n, m):
    rng = random.Random(seed)
    return sorted({(a, b) for a, b in ((rng.randrange(n), rng.randrange(n))
                                       for _ in range(m)) if a != b})


def _rand_undirected(seed, n, m):
    rng = random.Random(seed)
    return sorted({(min(a, b), max(a, b))
                   for a, b in ((rng.randrange(n), rng.randrange(n))
                                for _ in range(m)) if a != b})


# ---------------------------------------------------------------------------
# BFS distances
# ---------------------------------------------------------------------------

def _bfs_py(edges, seeds):
    adj = {}
    for s, d in edges:
        adj.setdefault(s, []).append(d)
    dist = {s: 0 for s in seeds}
    q = deque(seeds)
    while q:
        v = q.popleft()
        for w in adj.get(v, ()):
            if w not in dist:
                dist[w] = dist[v] + 1
                q.append(w)
    return dist


@pytest.mark.parametrize("seed", [1, 2])
def test_bfs_matches_python_oracle(spark, seed):
    edges = _rand_digraph(seed, 60, 150)
    seeds = [0, 7]
    want = _bfs_py(edges, seeds)
    e = spark.createDataFrame(edges, "src long, dst long")
    before = persisted(spark)
    out = bfs_distances(e, seeds=seeds)
    got = {r.v: r.dist for r in out.collect()}
    assert got == want  # unreached vertices absent on both sides
    assert_no_litter(spark, before, out)


def test_bfs_each_edge_fires_once_semantics_disconnected(spark):
    # two components; seeds only in one — the other stays unreached
    e = spark.createDataFrame([(0, 1), (1, 2), (5, 6)], "src long, dst long")
    got = {r.v: r.dist for r in bfs_distances(e, seeds=[0]).collect()}
    assert got == {0: 0, 1: 1, 2: 2}


def test_bfs_oracle_depth_bound_is_noop(spark):
    """The gate graph's hub eccentricity is 4 (measured) — raising the
    recursive-walk depth bound past the default must not change the
    oracle's answer (the bound only truncates exploration, never
    distances inside the ball)."""
    from landscape_spark.entry_queries import _bfs_sql

    con = duckdb.connect()
    con.execute(
        "CREATE TABLE documents AS SELECT * FROM "
        "'/root/testdata/sf0.01/documents.parquet'"
    )
    base = sorted(con.execute(_bfs_sql()).fetchall())
    deeper = sorted(con.execute(_bfs_sql(max_depth=40)).fetchall())
    assert base == deeper
    assert max(d for _, d in base) <= 12


# ---------------------------------------------------------------------------
# Coreness / k-core
# ---------------------------------------------------------------------------

def _coreness_py(und_edges, n):
    """Classic min-degree peel — independent of the H-operator route."""
    adj = [set() for _ in range(n)]
    for a, b in und_edges:
        adj[a].add(b)
        adj[b].add(a)
    deg = [len(s) for s in adj]
    core = [0] * n
    alive = set(range(n))
    k = 0
    while alive:
        k_candidates = [v for v in alive if deg[v] <= k]
        if not k_candidates:
            k += 1
            continue
        stack = k_candidates
        while stack:
            v = stack.pop()
            if v not in alive:
                continue
            if deg[v] <= k:
                core[v] = k
                alive.discard(v)
                for w in adj[v]:
                    if w in alive:
                        deg[w] -= 1
                        if deg[w] <= k:
                            stack.append(w)
    return core


@pytest.mark.parametrize("seed,n,m", [(3, 40, 120), (4, 50, 80)])
def test_coreness_matches_peel_oracle(spark, seed, n, m):
    edges = _rand_undirected(seed, n, m)
    want = _coreness_py(edges, n)
    e = spark.createDataFrame(edges, "a long, b long")
    got = {r.v: r.core for r in coreness(e, _verts(spark, n)).collect()}
    assert got == {v: want[v] for v in range(n)}


def test_coreness_clique_plus_tail(spark):
    # 5-clique (core 4) with a path tail (core 1) and an isolate (core 0)
    clique = [(a, b) for a in range(5) for b in range(a + 1, 5)]
    tail = [(4, 5), (5, 6)]
    e = spark.createDataFrame(clique + tail, "a long, b long")
    before = persisted(spark)
    out = coreness(e, _verts(spark, 8))
    got = {r.v: r.core for r in out.collect()}
    assert got == {0: 4, 1: 4, 2: 4, 3: 4, 4: 4, 5: 1, 6: 1, 7: 0}
    assert_no_litter(spark, before, out)


def test_k_core_is_coreness_filter(spark):
    edges = _rand_undirected(5, 40, 110)
    e = spark.createDataFrame(edges, "a long, b long")
    verts = _verts(spark, 40)
    full = {r.v: r.core for r in coreness(e, verts).collect()}
    got2 = {r.v for r in k_core(e, verts, k=2).collect()}
    assert got2 == {v for v, c in full.items() if c >= 2}


def test_coreness_sql_oracle_is_fixpointed():
    """Extra H-operator rounds past the fixpoint are no-ops (the operator
    is idempotent there) — the 28-round unroll equals the 31-round one on
    the gate graph, so round count is margin, not a tuning knob."""
    from landscape_spark.entry_queries import _coreness_sql

    con = duckdb.connect()
    con.execute(
        "CREATE TABLE documents AS SELECT * FROM "
        "'/root/testdata/sf0.01/documents.parquet'"
    )
    base = sorted(con.execute(_coreness_sql()).fetchall())
    more = sorted(con.execute(_coreness_sql(rounds=31)).fetchall())
    assert base == more


# ---------------------------------------------------------------------------
# SCC
# ---------------------------------------------------------------------------

def _scc_py(edges, n):
    """Iterative Tarjan — min vertex id per component."""
    adj = [[] for _ in range(n)]
    for s, d in edges:
        adj[s].append(d)
    index = [None] * n
    low = [0] * n
    on_stack = [False] * n
    stack: list[int] = []
    comp = [0] * n
    counter = 0
    for root in range(n):
        if index[root] is not None:
            continue
        work = [(root, 0)]
        while work:
            v, pi = work[-1]
            if pi == 0:
                index[v] = low[v] = counter
                counter += 1
                stack.append(v)
                on_stack[v] = True
            recurse = False
            for i in range(pi, len(adj[v])):
                w = adj[v][i]
                if index[w] is None:
                    work[-1] = (v, i + 1)
                    work.append((w, 0))
                    recurse = True
                    break
                if on_stack[w]:
                    low[v] = min(low[v], index[w])
            if recurse:
                continue
            work.pop()
            if low[v] == index[v]:
                members = []
                while True:
                    w = stack.pop()
                    on_stack[w] = False
                    members.append(w)
                    if w == v:
                        break
                m = min(members)
                for w in members:
                    comp[w] = m
            if work:
                u, _ = work[-1]
                low[u] = min(low[u], low[v])
    return comp


@pytest.mark.parametrize("seed,n,m", [(7, 40, 90), (8, 60, 200), (9, 30, 35)])
def test_scc_matches_tarjan(spark, seed, n, m):
    edges = _rand_digraph(seed, n, m)
    want = _scc_py(edges, n)
    e = spark.createDataFrame(edges, "src long, dst long")
    before = persisted(spark)
    out = strongly_connected_components(e, _verts(spark, n))
    got = {r.v: r.comp for r in out.collect()}
    assert got == {v: want[v] for v in range(n)}
    assert_no_litter(spark, before, out)


def test_scc_pure_dag_all_singletons(spark):
    # trim alone must resolve a DAG — every vertex its own component
    edges = [(0, 1), (0, 2), (1, 3), (2, 3), (3, 4)]
    e = spark.createDataFrame(edges, "src long, dst long")
    got = {r.v: r.comp for r in
           strongly_connected_components(e, _verts(spark, 5)).collect()}
    assert got == {v: v for v in range(5)}


def test_scc_two_cycles_bridged(spark):
    # 0->1->2->0 and 3->4->3, bridge 2->3: two SCCs under min-id labels
    edges = [(0, 1), (1, 2), (2, 0), (3, 4), (4, 3), (2, 3)]
    e = spark.createDataFrame(edges, "src long, dst long")
    got = {r.v: r.comp for r in
           strongly_connected_components(e, _verts(spark, 5)).collect()}
    assert got == {0: 0, 1: 0, 2: 0, 3: 3, 4: 3}


# ---------------------------------------------------------------------------
# Clustering coefficient
# ---------------------------------------------------------------------------

def test_clustering_coefficient_matches_python(spark):
    edges = _rand_undirected(11, 30, 80)
    n = 30
    nbrs = [set() for _ in range(n)]
    for a, b in edges:
        nbrs[a].add(b)
        nbrs[b].add(a)
    e = spark.createDataFrame(edges, "a long, b long")
    rows = clustering_coefficient(e, _verts(spark, n)).collect()
    assert len(rows) == n
    for r in rows:
        deg = len(nbrs[r.v])
        tri = sum(1 for x in nbrs[r.v] for y in nbrs[r.v]
                  if x < y and y in nbrs[x])
        assert r.deg == deg and r.tri_cnt == tri
        want = round(2.0 * tri / (deg * (deg - 1)), 6) if deg >= 2 else 0.0
        assert r.coeff == pytest.approx(want, abs=1e-9)


def test_clustering_triangle_is_one(spark):
    e = spark.createDataFrame([(0, 1), (0, 2), (1, 2)], "a long, b long")
    rows = clustering_coefficient(e, _verts(spark, 3)).collect()
    assert all(r.coeff == 1.0 and r.deg == 2 and r.tri_cnt == 1 for r in rows)


# ---------------------------------------------------------------------------
# Link prediction (Adamic-Adar)
# ---------------------------------------------------------------------------

def _aa_py(edges, n, cap=None):
    import math

    nbrs = [set() for _ in range(n)]
    for a, b in edges:
        nbrs[a].add(b)
        nbrs[b].add(a)
    eset = set(edges)
    scores = {}
    for z in range(n):
        if cap is not None and len(nbrs[z]) > cap:
            continue
        nz = sorted(nbrs[z])
        for i in range(len(nz)):
            for j in range(i + 1, len(nz)):
                p = (nz[i], nz[j])
                c, s = scores.get(p, (0, 0.0))
                scores[p] = (c + 1, s + 1.0 / math.log(len(nbrs[z])))
    return {p: (c, round(s, 6)) for p, (c, s) in scores.items()
            if p not in eset}


def test_adamic_adar_matches_python(spark):
    edges = _rand_undirected(13, 25, 60)
    want = _aa_py(edges, 25)
    e = spark.createDataFrame(edges, "a long, b long")
    got = {(r.a, r.b): (r.common_cnt, r.aa_score)
           for r in adamic_adar_topk(e, k=10_000).collect()}
    assert got == want


def test_adamic_adar_cap_containment(spark):
    """The documented 100TB-knob property: capping the wedge-center degree
    only REMOVES evidence — every capped pair exists uncapped with
    common_cnt and score >= the capped values, and pairs all of whose
    wedges pass the cap keep their exact score."""
    edges = _rand_undirected(17, 30, 90)
    e = spark.createDataFrame(edges, "a long, b long")
    big = {(r.a, r.b): (r.common_cnt, r.aa_score)
           for r in adamic_adar_topk(e, k=10_000).collect()}
    capped = {(r.a, r.b): (r.common_cnt, r.aa_score)
              for r in adamic_adar_topk(e, k=10_000, max_wedge_degree=5).collect()}
    want = _aa_py(edges, 30, cap=5)
    assert capped == want
    for p, (c, s) in capped.items():
        assert p in big
        assert big[p][0] >= c and big[p][1] >= s - 1e-9


def test_adamic_adar_excludes_existing_edges(spark):
    e = spark.createDataFrame([(0, 1), (0, 2), (1, 2), (2, 3)], "a long, b long")
    pairs = {(r.a, r.b) for r in adamic_adar_topk(e, k=100).collect()}
    assert (0, 1) not in pairs and (0, 2) not in pairs
    assert (0, 3) in pairs and (1, 3) in pairs


# ---------------------------------------------------------------------------
# Bow-tie decomposition / reciprocity / assortativity
# ---------------------------------------------------------------------------

def test_bowtie_textbook_regions(spark):
    """Hand-built graph with every region: core 3-cycle {0,1,2}, IN chain
    9->5->4->core, OUT chain core->6->7, tendril 8 hanging off the IN set
    (4->8: reached from the IN set only, so weakly attached but neither
    reaches the core nor is reached from it), isolate 3 and island
    {10, 11} disconnected."""
    edges = [
        (0, 1), (1, 2), (2, 0),      # CORE
        (5, 4), (4, 0),              # IN
        (2, 6), (6, 7),              # OUT
        (4, 8),                      # 8: reached from IN only -> TENDRIL
        (9, 5),                      # 9: reaches core through 5 -> IN
        (10, 11),                    # island -> DISCONNECTED
    ]
    und = sorted({(min(a, b), max(a, b)) for a, b in edges})
    e = spark.createDataFrame(edges, "src long, dst long")
    u = spark.createDataFrame(und, "a long, b long")
    from landscape_spark.graph.bowtie import bowtie_decomposition

    before = persisted(spark)
    out = bowtie_decomposition(e, u, _verts(spark, 12))
    got = {r.v: r.region for r in out.collect()}
    assert_no_litter(spark, before, out)
    assert got == {
        0: "CORE", 1: "CORE", 2: "CORE",
        4: "IN", 5: "IN", 9: "IN",
        6: "OUT", 7: "OUT",
        8: "TENDRIL", 3: "DISCONNECTED",
        10: "DISCONNECTED", 11: "DISCONNECTED",
    }


def test_bowtie_tube_bypasses_core(spark):
    """Broder TUBE: an IN->OUT path that skips the core. Core {0,1},
    IN = {4}, OUT = {5}; 4 -> 6 -> 5 makes 6 a TUBE (reachable from the
    IN set AND reaches the OUT set without touching the core); a sibling
    7 reached from IN that goes nowhere is a TENDRIL."""
    edges = [(0, 1), (1, 0), (4, 0), (1, 5), (4, 6), (6, 5), (4, 7)]
    und = sorted({(min(a, b), max(a, b)) for a, b in edges})
    e = spark.createDataFrame(edges, "src long, dst long")
    u = spark.createDataFrame(und, "a long, b long")
    from landscape_spark.graph.bowtie import bowtie_decomposition

    got = {r.v: r.region for r in
           bowtie_decomposition(e, u, _verts(spark, 8)).collect()}
    assert got == {
        0: "CORE", 1: "CORE", 4: "IN", 5: "OUT",
        6: "TUBE", 7: "TENDRIL",
        2: "DISCONNECTED", 3: "DISCONNECTED",
    }


def test_bowtie_chain_into_core_is_in_not_tendril(spark):
    # a vertex pointing INTO the IN set without reaching the core is a
    # tendril only if it cannot reach the core; 8 -> 9 -> core means IN.
    edges = [(0, 1), (1, 0), (9, 0), (8, 9)]
    und = sorted({(min(a, b), max(a, b)) for a, b in edges})
    e = spark.createDataFrame(edges, "src long, dst long")
    u = spark.createDataFrame(und, "a long, b long")
    from landscape_spark.graph.bowtie import bowtie_decomposition

    got = {r.v: r.region for r in
           bowtie_decomposition(e, u, _verts(spark, 10)).collect()}
    assert got[8] == "IN" and got[9] == "IN"
    assert got[0] == "CORE" and got[1] == "CORE"


def test_bowtie_reachability_warns_at_its_cap(spark):
    """A reachability sweep that reaches max_iter with its frontier still
    non-empty WARNS (its reached set is incomplete); a converged one is
    silent."""
    import warnings

    from landscape_spark.graph.bowtie import _reachable

    e = spark.range(7).select(F.col("id").alias("src"), (F.col("id") + 1).alias("dst"))
    seeds = _verts(spark, 1)
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        assert _reachable(e, seeds, max_iter=2).count() == 3
    assert any("frontier non-empty" in str(x.message) for x in w)
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        assert _reachable(e, seeds).count() == 8
    assert not any("frontier non-empty" in str(x.message) for x in w)


def test_reciprocity_hand_check(spark):
    from landscape_spark.graph.stats import reciprocity

    # 0<->1 mutual, 2->3 one-way: 2 of 3 directed edges reciprocated
    e = spark.createDataFrame([(0, 1), (1, 0), (2, 3)], "src long, dst long")
    r = reciprocity(e).first()
    assert r.n_edges == 3 and r.n_reciprocal == 2
    assert r.reciprocity == pytest.approx(round(2 / 3, 6))


def test_assortativity_star_is_minus_one(spark):
    from landscape_spark.graph.stats import degree_assortativity

    # star: every edge joins the hub (deg n-1) to a leaf (deg 1) — the
    # textbook perfectly disassortative graph, r = -1
    e = spark.createDataFrame([(0, i) for i in range(1, 6)], "a long, b long")
    r = degree_assortativity(e).first()
    assert r.assortativity == pytest.approx(-1.0)
    assert r.n_vertices == 6 and r.n_edges == 5


def test_assortativity_regular_graph_is_null(spark):
    from landscape_spark.graph.stats import degree_assortativity

    # 4-cycle: every degree 2, zero variance -> undefined (NULL)
    e = spark.createDataFrame([(0, 1), (1, 2), (2, 3), (0, 3)], "a long, b long")
    r = degree_assortativity(e).first()
    assert r.assortativity is None


def test_assortativity_matches_numpy_pearson(spark):
    import numpy as np
    from landscape_spark.graph.stats import degree_assortativity

    edges = _rand_undirected(23, 30, 70)
    deg = {}
    for a, b in edges:
        deg[a] = deg.get(a, 0) + 1
        deg[b] = deg.get(b, 0) + 1
    xs, ys = [], []
    for a, b in edges:
        xs += [deg[a], deg[b]]
        ys += [deg[b], deg[a]]
    want = np.corrcoef(np.array(xs, float), np.array(ys, float))[0, 1]
    e = spark.createDataFrame(edges, "a long, b long")
    r = degree_assortativity(e).first()
    assert r.assortativity == pytest.approx(round(want, 6), abs=2e-6)


# ---------------------------------------------------------------------------
# HyperANF neighborhood function / effective diameter
# ---------------------------------------------------------------------------

def _nf_py(edges, n):
    """Exact neighborhood function by n BFS runs."""
    adj = {}
    for s, d in edges:
        adj.setdefault(s, []).append(d)
    counts = {}
    for s in range(n):
        dist = {s: 0}
        q = deque([s])
        while q:
            v = q.popleft()
            for w in adj.get(v, ()):
                if w not in dist:
                    dist[w] = dist[v] + 1
                    q.append(w)
        for d in dist.values():
            counts[d] = counts.get(d, 0) + 1
    out, acc = [], 0
    for h in range(max(counts) + 1):
        acc += counts.get(h, 0)
        out.append(acc)
    return out  # out[h] = N(h)


@pytest.mark.parametrize("seed,n,m", [(31, 50, 120), (32, 80, 160)])
def test_anf_tracks_exact_neighborhood_function(spark, seed, n, m):
    """HLL with m=64 registers: per-ball σ ≈ 13%; the SUM over vertices
    concentrates further. 20% relative tolerance at every h, and the
    sketch run must terminate at exactly the exact NF's last growing h
    (the fixpoint certificate is exact even though values are estimates)."""
    from landscape_spark.graph.anf import neighborhood_function

    edges = _rand_digraph(seed, n, m)
    want = _nf_py(edges, n)
    e = spark.createDataFrame(edges, "src long, dst long")
    before = persisted(spark)
    out = neighborhood_function(e, _verts(spark, n))
    got = {r.h: r.n_pairs_est for r in out.collect()}
    assert_no_litter(spark, before, out)
    assert max(got) == len(want) - 1  # identical horizon
    for h, exact in enumerate(want):
        assert abs(got[h] - exact) / exact < 0.20, (h, got[h], exact)
    # monotone in h (register merge is monotone, estimator is monotone in
    # the register vector)
    vals = [got[h] for h in sorted(got)]
    assert all(b >= a - 1e-9 for a, b in zip(vals, vals[1:]))


def test_anf_partitioning_invariant(spark):
    """Estimates are a pure function of the edge SET: shuffling the input
    partitioning must reproduce every value bit-for-bit (max-merge is
    commutative/associative/idempotent)."""
    from landscape_spark.graph.anf import neighborhood_function

    edges = _rand_digraph(33, 40, 100)
    e1 = spark.createDataFrame(edges, "src long, dst long")
    e2 = e1.repartition(7)
    v = _verts(spark, 40)
    a = sorted((r.h, r.n_pairs_est) for r in neighborhood_function(e1, v).collect())
    b = sorted((r.h, r.n_pairs_est) for r in neighborhood_function(e2, v).collect())
    assert a == b


def test_effective_diameter_path_graph(spark):
    from landscape_spark.graph.anf import effective_diameter

    # 0->1->2->3: N = [4,7,9,10]; target 0.9*N(inf)=9 -> eff diam = 2.0
    # exactly under linear interpolation; HLL noise moves it only slightly
    e = spark.createDataFrame([(0, 1), (1, 2), (2, 3)], "src long, dst long")
    r = effective_diameter(e, _verts(spark, 4)).first()
    assert 1.5 < r.effective_diameter < 2.5
    assert abs(r.n_pairs_reachable_est - 10) / 10 < 0.2


def test_anf_empty_graph_all_singletons(spark):
    from landscape_spark.graph.anf import neighborhood_function

    e = spark.createDataFrame([], "src long, dst long")
    rows = neighborhood_function(e, _verts(spark, 30)).collect()
    assert len(rows) == 1 and rows[0].h == 0
    assert abs(rows[0].n_pairs_est - 30) / 30 < 0.15


# ---------------------------------------------------------------------------
# Graph contraction (page graph -> host graph)
# ---------------------------------------------------------------------------

def test_contract_graph_weights_and_self_loops(spark):
    from landscape_spark.graph.contract import contract_graph

    # units: {0,1}->10, {2,3}->11. Edges: two parallel 10->11 images,
    # one 11->10, one intra-unit (0->1) dropped by default
    e = spark.createDataFrame(
        [(0, 2), (1, 3), (2, 0), (0, 1)], "src long, dst long"
    )
    mapping = spark.createDataFrame(
        [(0, 10), (1, 10), (2, 11), (3, 11)], "v long, unit long"
    )
    got = {(r.src, r.dst): r.weight
           for r in contract_graph(e, mapping).collect()}
    assert got == {(10, 11): 2, (11, 10): 1}
    with_loops = {(r.src, r.dst): r.weight
                  for r in contract_graph(e, mapping, keep_self_loops=True).collect()}
    assert with_loops == {(10, 11): 2, (11, 10): 1, (10, 10): 1}


def test_contract_graph_feeds_weighted_pagerank(spark):
    """The composition invariant: contracting a graph where each unit's
    pages are structurally identical, then running weighted PageRank,
    equals running unweighted PageRank on an isomorphic multigraph —
    sanity-checked by mass conservation and determinism across
    partitionings of the mapping side."""
    from pyspark.sql import functions as F2

    from landscape_spark.graph.contract import contract_graph
    from landscape_spark.graph.pagerank import pagerank

    edges = _rand_digraph(41, 60, 180)
    e = spark.createDataFrame(edges, "src long, dst long")
    mapping = spark.range(60).select(
        F2.col("id").alias("v"), (F2.col("id") % 7).alias("unit")
    )
    hg = contract_graph(e, mapping)
    hverts = spark.range(7).select(F2.col("id").alias("v"))
    pr = pagerank(hg, hverts, 7, iters=8, weight_col="weight")
    total = pr.agg(F2.sum("pr_score")).first()[0]
    assert total == pytest.approx(1.0, abs=1e-9)
    hg2 = contract_graph(e.repartition(5), mapping.repartition(3))
    a = sorted(map(tuple, hg.collect()))
    b = sorted(map(tuple, hg2.collect()))
    assert a == b


def _harmonic_py(edges, n):
    """Exact incoming harmonic centrality by n forward-BFS runs."""
    adj = {}
    for s, d in edges:
        adj.setdefault(s, []).append(d)
    hc = [0.0] * n
    for s in range(n):
        dist = {s: 0}
        q = deque([s])
        while q:
            v = q.popleft()
            for w in adj.get(v, ()):
                if w not in dist:
                    dist[w] = dist[v] + 1
                    q.append(w)
        for v, d in dist.items():
            if d > 0:
                hc[v] += 1.0 / d
    return hc


def test_harmonic_centrality_tracks_exact(spark):
    """HyperBall estimate per vertex vs the exact all-BFS harmonic sum:
    20% relative tolerance for well-centered vertices, near-zero for
    vertices nothing reaches."""
    from landscape_spark.graph.anf import harmonic_centrality

    edges = _rand_digraph(51, 40, 130)
    want = _harmonic_py(edges, 40)
    e = spark.createDataFrame(edges, "src long, dst long")
    before = persisted(spark)
    out = harmonic_centrality(e, _verts(spark, 40))
    got = {r.v: r.harmonic for r in out.collect()}
    assert_no_litter(spark, before, out)
    for v in range(40):
        if want[v] < 0.5:
            assert got[v] < max(1.0, 2 * want[v] + 0.5), (v, got[v], want[v])
        else:
            assert abs(got[v] - want[v]) / want[v] < 0.20, (v, got[v], want[v])


def test_harmonic_centrality_star_and_isolates(spark):
    from landscape_spark.graph.anf import harmonic_centrality

    # 1,2,3 -> 0: H(0) ~ 3, leaves and the isolate 4 are exactly 0 (their
    # in-ball never grows, so no hop ever contributes)
    e = spark.createDataFrame([(1, 0), (2, 0), (3, 0)], "src long, dst long")
    got = {r.v: r.harmonic for r in
           harmonic_centrality(e, _verts(spark, 5)).collect()}
    assert abs(got[0] - 3) / 3 < 0.2
    assert got[1] == got[2] == got[3] == got[4] == 0.0
