"""Katz centrality, rectangle (4-cycle) counting, Jaccard link prediction,
partition modularity, and the power-law degree exponent — each vs an
independent pure-Python/numpy oracle on hand-built and randomized graphs,
plus the specific degenerates and knob-containment properties the module
docstrings promise."""

from __future__ import annotations

import itertools
import math
import random

import numpy as np
import pytest
from pyspark.sql import functions as F

from landscape_spark.graph.katz import katz_centrality
from landscape_spark.graph.linkpred import jaccard_topk
from landscape_spark.graph.motifs import rectangle_count
from landscape_spark.graph.stats import degree_powerlaw_alpha, modularity
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
# Katz centrality
# ---------------------------------------------------------------------------

def _katz_np(edges, n, iters, alpha, beta):
    A = np.zeros((n, n))
    for s, d in edges:
        A[s, d] = 1.0
    x = np.full(n, beta)
    for _ in range(iters):
        x = beta + alpha * (A.T @ x)
    return x


@pytest.mark.parametrize("seed", [1, 2])
def test_katz_matches_numpy(spark, seed):
    n = 50
    edges = _rand_digraph(seed, n, 200)
    e = spark.createDataFrame(edges, "src long, dst long")
    before = persisted(spark)
    out = katz_centrality(e, _verts(spark, n), iters=8, alpha=0.01, beta=1.0)
    got = {r.v: r.katz for r in out.collect()}
    assert_no_litter(spark, before, out)
    want = _katz_np(edges, n, iters=8, alpha=0.01, beta=1.0)
    assert set(got) == set(range(n))
    for v in range(n):
        assert got[v] == pytest.approx(want[v], abs=1e-9)


def test_katz_isolated_vertex_is_beta(spark):
    e = spark.createDataFrame([(0, 1)], "src long, dst long")
    got = {r.v: r.katz
           for r in katz_centrality(e, _verts(spark, 3), iters=5,
                                    alpha=0.1, beta=2.0).collect()}
    # v=2 isolated, v=0 no in-links: both exactly beta
    assert got[2] == 2.0 and got[0] == 2.0
    # v=1: beta + alpha*beta (v0's score is constant at beta)
    assert got[1] == pytest.approx(2.0 + 0.1 * 2.0)


# ---------------------------------------------------------------------------
# Rectangle (4-cycle) count
# ---------------------------------------------------------------------------

def _rect_brute(edges):
    """Independent oracle: ordered 4-tuples forming a closed walk over
    distinct vertices, / 8 (4 rotations x 2 directions)."""
    nbrs = {}
    for a, b in edges:
        nbrs.setdefault(a, set()).add(b)
        nbrs.setdefault(b, set()).add(a)
    vs = sorted(nbrs)
    cnt = 0
    for t in itertools.permutations(vs, 4):
        v0, v1, v2, v3 = t
        if (v1 in nbrs[v0] and v2 in nbrs[v1]
                and v3 in nbrs[v2] and v0 in nbrs[v3]):
            cnt += 1
    assert cnt % 8 == 0
    return cnt // 8


@pytest.mark.parametrize(
    "edges,want",
    [
        ([(0, 1), (1, 2), (2, 3), (0, 3)], 1),            # plain square
        ([(0, 1), (1, 2), (2, 3), (0, 3), (0, 2)], 1),    # chord adds none
        ([(0, 1), (0, 2), (0, 3), (1, 2), (1, 3), (2, 3)], 3),  # K4
        ([(0, 2), (0, 3), (1, 2), (1, 3)], 1),            # K2,2 butterfly
        ([(0, 1), (1, 2)], 0),                            # path: wedge only
    ],
)
def test_rectangle_hand_graphs(spark, edges, want):
    e = spark.createDataFrame(edges, "a long, b long")
    row = rectangle_count(e).first()
    assert row.n_rectangles == want


@pytest.mark.parametrize("seed", [3, 4])
def test_rectangle_matches_brute_force(spark, seed):
    edges = _rand_undirected(seed, 14, 40)
    e = spark.createDataFrame(edges, "a long, b long")
    assert rectangle_count(e).first().n_rectangles == _rect_brute(edges)


def test_rectangle_center_cap_is_monotone(spark):
    """The 100TB hub knob only removes wedges: capped count <= uncapped,
    and a cap above the max degree is a no-op."""
    edges = _rand_undirected(7, 20, 70)
    e = spark.createDataFrame(edges, "a long, b long")
    exact = rectangle_count(e).first().n_rectangles
    capped = rectangle_count(e, max_center_degree=3).first().n_rectangles
    assert capped <= exact
    assert rectangle_count(e, max_center_degree=10**6).first().n_rectangles == exact


# ---------------------------------------------------------------------------
# Jaccard link prediction
# ---------------------------------------------------------------------------

def _jaccard_py(edges, k):
    nbrs = {}
    for a, b in edges:
        nbrs.setdefault(a, set()).add(b)
        nbrs.setdefault(b, set()).add(a)
    eset = set(edges)
    rows = []
    for a, b in itertools.combinations(sorted(nbrs), 2):
        if (a, b) in eset:
            continue
        common = len(nbrs[a] & nbrs[b])
        if common == 0:
            continue
        union = len(nbrs[a] | nbrs[b])
        rows.append((a, b, common, round(common / union, 6)))
    rows.sort(key=lambda r: (-r[3], r[0], r[1]))
    return rows[:k]


@pytest.mark.parametrize("seed", [5, 6])
def test_jaccard_topk_matches_python(spark, seed):
    edges = _rand_undirected(seed, 30, 90)
    e = spark.createDataFrame(edges, "a long, b long")
    got = [tuple(r) for r in jaccard_topk(e, k=10).collect()]
    assert got == _jaccard_py(edges, 10)


# ---------------------------------------------------------------------------
# Modularity
# ---------------------------------------------------------------------------

def _modularity_py(edges, labels):
    m = len(edges)
    deg = {}
    for a, b in edges:
        deg[a] = deg.get(a, 0) + 1
        deg[b] = deg.get(b, 0) + 1
    comms = set(labels.values())
    q = 0.0
    for c in comms:
        m_c = sum(1 for a, b in edges if labels[a] == c and labels[b] == c)
        d_c = sum(d for v, d in deg.items() if labels[v] == c) + 0
        d_c += sum(0 for v in labels if labels[v] == c and v not in deg)
        q += m_c / m - (d_c / (2 * m)) ** 2
    return q


def test_modularity_two_triangles_bridge(spark):
    """Two triangles joined by one bridge edge, partitioned into the two
    triangles — the textbook example."""
    edges = [(0, 1), (0, 2), (1, 2), (3, 4), (3, 5), (4, 5), (2, 3)]
    labels = {0: 0, 1: 0, 2: 0, 3: 1, 4: 1, 5: 1}
    e = spark.createDataFrame(edges, "a long, b long")
    lab = spark.createDataFrame(sorted(labels.items()), "v long, label long")
    row = modularity(e, lab).first()
    assert row.n_communities == 2 and row.n_edges == 7
    assert row.modularity == pytest.approx(
        round(_modularity_py(edges, labels), 6), abs=2e-6
    )


@pytest.mark.parametrize("seed", [8, 9])
def test_modularity_matches_python(spark, seed):
    edges = _rand_undirected(seed, 25, 60)
    labels = {v: v % 4 for v in range(25)}
    e = spark.createDataFrame(edges, "a long, b long")
    lab = spark.createDataFrame(sorted(labels.items()), "v long, label long")
    got = modularity(e, lab).first().modularity
    assert got == pytest.approx(round(_modularity_py(edges, labels), 6), abs=2e-6)


def test_modularity_single_community_and_edgeless(spark):
    edges = [(0, 1), (1, 2)]
    e = spark.createDataFrame(edges, "a long, b long")
    lab = spark.createDataFrame([(v, 0) for v in range(3)], "v long, label long")
    # one community holding everything: Q = 1 - 1 = 0
    assert modularity(e, lab).first().modularity == pytest.approx(0.0)
    empty = spark.createDataFrame([], "a long, b long")
    row = modularity(empty, lab).first()
    assert row.n_edges == 0 and row.modularity is None


# ---------------------------------------------------------------------------
# Power-law exponent
# ---------------------------------------------------------------------------

def test_powerlaw_alpha_matches_python(spark):
    edges = _rand_digraph(10, 40, 260)
    e = spark.createDataFrame(edges, "src long, dst long")
    dmin = 3
    indeg = {}
    for _, d in edges:
        indeg[d] = indeg.get(d, 0) + 1
    tail = [d for d in indeg.values() if d >= dmin]
    want = 1.0 + len(tail) / sum(math.log(d / (dmin - 0.5)) for d in tail)
    row = degree_powerlaw_alpha(e, dmin=dmin).first()
    assert row.n_tail == len(tail) and row.dmin == dmin
    assert row.alpha == pytest.approx(round(want, 6), abs=2e-6)


def test_powerlaw_empty_tail_is_null(spark):
    e = spark.createDataFrame([(0, 1), (2, 1)], "src long, dst long")
    row = degree_powerlaw_alpha(e, dmin=100).first()
    assert row.n_tail == 0 and row.alpha is None


# ---------------------------------------------------------------------------
# Edge support / k-truss
# ---------------------------------------------------------------------------

def _support_py(edges):
    nbrs = {}
    for a, b in edges:
        nbrs.setdefault(a, set()).add(b)
        nbrs.setdefault(b, set()).add(a)
    return {(a, b): len(nbrs[a] & nbrs[b]) for a, b in edges}


def _ktruss_py(edges, k):
    cur = set(edges)
    while True:
        supp = _support_py(sorted(cur))
        bad = {e for e in cur if supp[e] < k - 2}
        if not bad:
            return {e: supp[e] for e in sorted(cur)}
        cur -= bad


@pytest.mark.parametrize("seed", [11, 12])
def test_edge_support_matches_python(spark, seed):
    from landscape_spark.graph.truss import edge_support

    edges = _rand_undirected(seed, 25, 80)
    e = spark.createDataFrame(edges, "a long, b long")
    got = {(r.a, r.b): r.support for r in edge_support(e).collect()}
    assert got == _support_py(edges)


@pytest.mark.parametrize("seed,k", [(13, 3), (13, 4), (14, 4), (15, 5)])
def test_ktruss_matches_python_peel(spark, seed, k):
    from landscape_spark.graph.truss import k_truss

    edges = _rand_undirected(seed, 25, 90)
    e = spark.createDataFrame(edges, "a long, b long")
    before = persisted(spark)
    out = k_truss(e, k)
    got = {(r.a, r.b): r.support for r in out.collect()}
    assert got == _ktruss_py(edges, k)
    assert_no_litter(spark, before, out)


def test_ktruss_hand_graphs(spark):
    from landscape_spark.graph.truss import k_truss

    # K4 + pendant: 4-truss = the K4 (every edge in exactly 2 triangles)
    k4p = [(0, 1), (0, 2), (0, 3), (1, 2), (1, 3), (2, 3), (3, 4)]
    e = spark.createDataFrame(k4p, "a long, b long")
    got = sorted(map(tuple, k_truss(e, 4).collect()))
    assert got == [(0, 1, 2), (0, 2, 2), (0, 3, 2), (1, 2, 2), (1, 3, 2),
                   (2, 3, 2)]
    # two triangles sharing an edge: 3-truss keeps all, 4-truss is empty
    # (the shared edge alone has support 2, but its neighbors peel away)
    bowtie = [(0, 1), (0, 2), (1, 2), (1, 3), (2, 3)]
    e2 = spark.createDataFrame(bowtie, "a long, b long")
    assert k_truss(e2, 3).count() == 5
    assert k_truss(e2, 4).count() == 0
    # k <= 2 returns the whole graph with full-graph supports
    assert k_truss(e2, 2).count() == 5


def test_ktruss_triangle_free_is_empty(spark):
    from landscape_spark.graph.truss import k_truss

    star = [(0, 1), (0, 2), (0, 3), (0, 4)]
    e = spark.createDataFrame(star, "a long, b long")
    assert k_truss(e, 3).count() == 0


def test_edge_support_no_cartesian(spark, sf_small):
    from landscape_spark import linkgraph
    from landscape_spark.graph.truss import edge_support

    und = linkgraph.undirected_edges(spark, sf_small)
    plan = edge_support(und)._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


# ---------------------------------------------------------------------------
# Deterministic random walks / skip-gram pairs
# ---------------------------------------------------------------------------

def _walks_py(edges, n, walk_len, walks_per_vertex):
    from landscape_spark.graph.walks import (
        H_ADD, H_MOD, H_STEP, H_V, H_WALK, WALK_SHIFT,
    )

    adj = {}
    for s, d in edges:
        adj.setdefault(s, []).append(d)
    for s in adj:
        adj[s].sort()
    rows = []
    for start in range(n):
        for wk in range(walks_per_vertex):
            v = start
            rows.append((start, wk, 0, v))
            key = start * WALK_SHIFT + wk
            for t in range(1, walk_len + 1):
                nbrs = adj.get(v)
                if not nbrs:
                    break
                h = ((v % H_MOD) * H_V + (t - 1) * H_STEP
                     + (key % H_MOD) * H_WALK + H_ADD) % H_MOD
                v = nbrs[h % len(nbrs)]
                rows.append((start, wk, t, v))
    return sorted(rows)


@pytest.mark.parametrize("seed", [16, 17])
def test_random_walks_match_python(spark, seed):
    from landscape_spark.graph.walks import random_walks

    n = 40
    edges = _rand_digraph(seed, n, 100)  # leaves some dangling vertices
    e = spark.createDataFrame(edges, "src long, dst long")
    before = persisted(spark)
    out = random_walks(e, _verts(spark, n), walk_len=5, walks_per_vertex=2)
    got = sorted(map(tuple, out.collect()))
    assert got == _walks_py(edges, n, 5, 2)
    assert_no_litter(spark, before, out)


def test_random_walks_truncate_at_dangling(spark):
    from landscape_spark.graph.walks import random_walks

    e = spark.createDataFrame([(0, 1), (1, 2)], "src long, dst long")
    got = sorted(map(tuple, random_walks(e, _verts(spark, 3), walk_len=4,
                                         walks_per_vertex=1).collect()))
    # walk from 0: 0->1->2 stop; from 1: 1->2 stop; from 2: just itself
    assert got == [(0, 0, 0, 0), (0, 0, 1, 1), (0, 0, 2, 2),
                   (1, 0, 0, 1), (1, 0, 1, 2), (2, 0, 0, 2)]


def test_random_walks_partition_invariant(spark):
    """The hop law depends only on values, never on physical layout."""
    from landscape_spark.graph.walks import random_walks

    edges = _rand_digraph(18, 30, 90)
    base = spark.createDataFrame(edges, "src long, dst long")
    a = sorted(map(tuple, random_walks(base.repartition(2), _verts(spark, 30),
                                       walk_len=4).collect()))
    b = sorted(map(tuple, random_walks(base.repartition(13), _verts(spark, 30),
                                       walk_len=4).collect()))
    assert a == b


def test_skipgram_pairs_match_python(spark):
    from landscape_spark.graph.walks import random_walks, skipgram_pairs

    edges = _rand_digraph(19, 25, 80)
    e = spark.createDataFrame(edges, "src long, dst long")
    walks = _walks_py(edges, 25, 4, 2)
    want = {}
    by_walk = {}
    for start, wk, step, v in walks:
        by_walk.setdefault((start, wk), []).append((step, v))
    for trail in by_walk.values():
        trail.sort()
        for i, (s1, c) in enumerate(trail):
            for s2, x in trail[i + 1:]:
                if s2 - s1 <= 2:
                    want[(c, x)] = want.get((c, x), 0) + 1
    w = random_walks(e, _verts(spark, 25), walk_len=4, walks_per_vertex=2)
    got = {(r.center, r.context): r.n_pairs
           for r in skipgram_pairs(w, window=2).collect()}
    assert got == want


def test_ranked_adjacency_window_is_per_src(spark, sf_small):
    """The adjacency ranking must partition its window by src — a global
    (empty-partition-spec) window would funnel every edge through one
    task."""
    from landscape_spark import linkgraph
    from landscape_spark.graph.walks import ranked_adjacency

    e = linkgraph.directed_edges(spark, sf_small)
    plan = ranked_adjacency(e)._jdf.queryExecution().executedPlan().toString()
    assert "hashpartitioning(src" in plan, plan


# ---------------------------------------------------------------------------
# Weighted SSSP
# ---------------------------------------------------------------------------

def _dijkstra_py(wedges, seeds):
    import heapq

    adj = {}
    for s, d, w in wedges:
        adj.setdefault(s, []).append((d, w))
    dist = {}
    pq = [(0, s) for s in seeds]
    while pq:
        dv, v = heapq.heappop(pq)
        if v in dist:
            continue
        dist[v] = dv
        for nxt, w in adj.get(v, ()):
            if nxt not in dist:
                heapq.heappush(pq, (dv + w, nxt))
    return dist


@pytest.mark.parametrize("seed", [20, 21])
def test_sssp_weighted_matches_dijkstra(spark, seed):
    from landscape_spark.graph.traversal import sssp_weighted

    rng = random.Random(seed)
    wedges = sorted({(a, b) for a, b in ((rng.randrange(50), rng.randrange(50))
                                         for _ in range(160)) if a != b})
    wedges = [(a, b, rng.randrange(1, 6)) for a, b in wedges]
    e = spark.createDataFrame(wedges, "src long, dst long, w long")
    before = persisted(spark)
    out = sssp_weighted(e, seeds=[0, 1])
    got = {r.v: r.dist for r in out.collect()}
    assert got == _dijkstra_py(wedges, [0, 1])
    assert_no_litter(spark, before, out)


def test_sssp_prefers_cheap_long_path(spark):
    from landscape_spark.graph.traversal import sssp_weighted

    # direct edge costs 5; the 3-hop detour costs 3
    e = spark.createDataFrame(
        [(0, 3, 5), (0, 1, 1), (1, 2, 1), (2, 3, 1)], "src long, dst long, w long"
    )
    got = {r.v: r.dist for r in sssp_weighted(e, seeds=[0]).collect()}
    assert got == {0: 0, 1: 1, 2: 2, 3: 3}


def test_sssp_weighted_warns_at_its_cap(spark):
    """Weighted SSSP that reaches max_iter with its frontier still non-empty
    WARNS (a distance may still be too large); a converged run is silent."""
    import warnings

    from landscape_spark.graph.traversal import sssp_weighted

    # directed path 0 -> 1 -> 2 -> 3 with weights 1, 2, 3
    e = spark.range(3).select(
        F.col("id").alias("src"), (F.col("id") + 1).alias("dst"), (F.col("id") + 1).alias("w")
    )
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        got = {r.v: r.dist for r in sssp_weighted(e, seeds=[0], max_iter=1).collect()}
    assert got == {0: 0, 1: 1}
    assert any("frontier non-empty" in str(x.message) for x in w)
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        got = {r.v: r.dist for r in sssp_weighted(e, seeds=[0]).collect()}
    assert got == {0: 0, 1: 1, 2: 3, 3: 6}
    assert not any("frontier non-empty" in str(x.message) for x in w)


def test_sssp_oracle_hop_bound_is_noop(spark, sf_mid):
    """Raising the oracle's recursion bound past SSSP_ORACLE_HOPS must not
    change any distance (the bound only truncates non-optimal tails)."""
    import duckdb

    from landscape_spark.entry_queries import _sssp_sql

    con = duckdb.connect()
    con.execute(
        f"CREATE TABLE documents AS SELECT * FROM '{sf_mid}/documents.parquet'"
    )
    a = sorted(con.execute(_sssp_sql()).fetchall())
    b = sorted(con.execute(_sssp_sql(max_hops=32)).fetchall())
    assert a == b


# ---------------------------------------------------------------------------
# Seeded label propagation
# ---------------------------------------------------------------------------

def _seeded_lpa_py(edges, n, seeds, iters):
    adj = [[] for _ in range(n)]
    for a, b in edges:
        adj[a].append(b)
        adj[b].append(a)
    labels = [seeds.get(v) for v in range(n)]
    for _ in range(iters):
        new = labels[:]
        for v in range(n):
            if v in seeds:
                new[v] = seeds[v]
                continue
            counts: dict = {}
            for w in adj[v]:
                if labels[w] is not None:
                    counts[labels[w]] = counts.get(labels[w], 0) + 1
            if counts:
                new[v] = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        labels = new
    return labels


@pytest.mark.parametrize("seed", [22, 23])
def test_seeded_lpa_matches_python(spark, seed):
    from landscape_spark.graph.lpa import seeded_label_propagation

    n = 40
    edges = _rand_undirected(seed, n, 70)  # sparse: some vertices unreached
    seeds = {0: 10, 1: 11, 2: 10}
    e = spark.createDataFrame(edges, "a long, b long")
    sl = spark.createDataFrame(sorted(seeds.items()), "v long, label long")
    before = persisted(spark)
    out = seeded_label_propagation(e, _verts(spark, n), sl, iters=4)
    got = {r.v: r.label for r in out.collect()}
    assert_no_litter(spark, before, out)
    want = _seeded_lpa_py(edges, n, seeds, 4)
    assert got == {v: want[v] for v in range(n)}
    assert any(x is None for x in got.values())  # some vertex stayed unreached


def test_seeded_lpa_seeds_are_clamped(spark):
    from landscape_spark.graph.lpa import seeded_label_propagation

    # seed 0 surrounded by a clique labeled differently must keep its label
    edges = [(0, 1), (0, 2), (0, 3), (1, 2), (1, 3), (2, 3)]
    seeds = {0: 99, 1: 5, 2: 5, 3: 5}
    e = spark.createDataFrame(edges, "a long, b long")
    sl = spark.createDataFrame(sorted(seeds.items()), "v long, label long")
    got = {r.v: r.label
           for r in seeded_label_propagation(e, _verts(spark, 4), sl,
                                             iters=3).collect()}
    assert got == seeds


# ---------------------------------------------------------------------------
# Neighborhood-MinHash LSH link prediction (scale path)
# ---------------------------------------------------------------------------

def test_jaccard_lsh_identical_neighborhoods_always_found(spark):
    """Two vertices with IDENTICAL neighbor sets have identical MinHash
    signatures, hence collide in EVERY band — found regardless of hash
    seeds, with the exact score."""
    from landscape_spark.graph.linkpred import jaccard_lsh_topk

    # 8 and 9 both adjacent to exactly {0,1,2,3}; each of 0..3 gets one
    # extra distinct neighbor so no other pair reaches jaccard 1.0
    edges = [(0, 8), (1, 8), (2, 8), (3, 8),
             (0, 9), (1, 9), (2, 9), (3, 9),
             (0, 4), (1, 5), (2, 6), (3, 7),
             (4, 5), (6, 7)]
    e = spark.createDataFrame(sorted((min(a, b), max(a, b)) for a, b in edges),
                              "a long, b long")
    top = [tuple(r) for r in jaccard_lsh_topk(e, k=5).collect()]
    assert top[0] == (8, 9, 4, 1.0)


def test_jaccard_lsh_scores_equal_exact_path(spark):
    """Every pair the LSH path returns carries the exact path's score —
    only recall may differ, never values (the subset-of-exact claim)."""
    from landscape_spark.graph.linkpred import jaccard_lsh_topk

    edges = _rand_undirected(24, 40, 140)
    e = spark.createDataFrame(edges, "a long, b long")
    exact = {(a, b): (c, s) for a, b, c, s in _jaccard_py(edges, 10**6)}
    for a, b, c, s in (tuple(r) for r in jaccard_lsh_topk(e, k=15).collect()):
        assert exact[(a, b)] == (c, s)


def test_jaccard_lsh_recall_at_gate_scale(spark, sf_small):
    """Deterministic recall vs the exact top-20 (xxhash64 is seed-fixed, so
    this number cannot flake) — the default 16x2 banding keeps the
    high-similarity head."""
    from landscape_spark import linkgraph
    from landscape_spark.graph.linkpred import jaccard_lsh_topk, jaccard_topk

    und = linkgraph.undirected_edges(spark, sf_small).localCheckpoint(eager=True)
    exact = {(r.a, r.b) for r in jaccard_topk(und, k=20).collect()}
    lsh = {(r.a, r.b) for r in jaccard_lsh_topk(und, k=20).collect()}
    assert len(exact & lsh) / len(exact) >= 0.6


def test_jaccard_lsh_no_cartesian_one_signature_scan(spark, sf_small):
    """Plan pins: hash joins only, and the banding projection must not
    re-derive the signature aggregate once per band (one-scan discipline —
    the signature frame is checkpointed before explosion)."""
    from landscape_spark import linkgraph
    from landscape_spark.graph.linkpred import jaccard_lsh_topk

    und = linkgraph.undirected_edges(spark, sf_small)
    plan = jaccard_lsh_topk(und, k=5)._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


# ---------------------------------------------------------------------------
# SALSA
# ---------------------------------------------------------------------------

def _salsa_np(edges, n, iters):
    indeg = {}
    outdeg = {}
    for s, d in edges:
        indeg[d] = indeg.get(d, 0) + 1
        outdeg[s] = outdeg.get(s, 0) + 1
    auths = sorted(indeg)
    hubs = sorted(outdeg)
    a = {v: 1.0 / len(auths) for v in auths}
    for _ in range(iters):
        b = {}
        for s, d in edges:
            b[s] = b.get(s, 0.0) + a[d] / indeg[d]
        a2 = {}
        for s, d in edges:
            a2[d] = a2.get(d, 0.0) + b[s] / outdeg[s]
        a = a2
    h = {v: 1.0 / len(hubs) for v in hubs}
    for _ in range(iters):
        c = {}
        for s, d in edges:
            c[d] = c.get(d, 0.0) + h[s] / outdeg[s]
        h2 = {}
        for s, d in edges:
            h2[s] = h2.get(s, 0.0) + c[d] / indeg[d]
        h = h2
    return ([a.get(v, 0.0) for v in range(n)],
            [h.get(v, 0.0) for v in range(n)])


@pytest.mark.parametrize("seed", [25, 26])
def test_salsa_matches_python(spark, seed):
    from landscape_spark.graph.salsa import salsa

    n = 40
    edges = _rand_digraph(seed, n, 140)
    e = spark.createDataFrame(edges, "src long, dst long")
    before = persisted(spark)
    out = salsa(e, _verts(spark, n), iters=6)
    got = {r.v: (r.authority, r.hub) for r in out.collect()}
    assert_no_litter(spark, before, out)
    wa, wh = _salsa_np(edges, n, 6)
    for v in range(n):
        assert got[v][0] == pytest.approx(wa[v], abs=1e-12)
        assert got[v][1] == pytest.approx(wh[v], abs=1e-12)


def test_salsa_mass_conserved_and_stationary_on_cycle(spark):
    from landscape_spark.graph.salsa import salsa

    # directed 4-cycle: every vertex indeg=outdeg=1 — the walk is already
    # stationary; authority = hub = 1/4 exactly at EVERY iteration
    e = spark.createDataFrame([(0, 1), (1, 2), (2, 3), (3, 0)],
                              "src long, dst long")
    got = {r.v: (r.authority, r.hub)
           for r in salsa(e, _verts(spark, 4), iters=3).collect()}
    assert got == {v: (0.25, 0.25) for v in range(4)}


# ---------------------------------------------------------------------------
# Co-citation / bibliographic coupling
# ---------------------------------------------------------------------------

def _shared_py(pairs_src, k):
    counts = {}
    by_c = {}
    for c, x in pairs_src:
        by_c.setdefault(c, set()).add(x)
    for xs in by_c.values():
        for a, b in itertools.combinations(sorted(xs), 2):
            counts[(a, b)] = counts.get((a, b), 0) + 1
    rows = sorted(((a, b, c) for (a, b), c in counts.items()),
                  key=lambda r: (-r[2], r[0], r[1]))
    return rows[:k]


@pytest.mark.parametrize("seed", [27, 28])
def test_cocitation_and_coupling_match_python(spark, seed):
    from landscape_spark.graph.linkpred import cocitation_topk, coupling_topk

    edges = _rand_digraph(seed, 30, 120)
    e = spark.createDataFrame(edges, "src long, dst long")
    got_cc = [tuple(r) for r in cocitation_topk(e, k=10).collect()]
    assert got_cc == _shared_py([(s, d) for s, d in edges], 10)
    got_bc = [tuple(r) for r in coupling_topk(e, k=10).collect()]
    assert got_bc == _shared_py([(d, s) for s, d in edges], 10)


def test_coupling_is_cocitation_of_reversed_graph(spark):
    from landscape_spark.graph.linkpred import cocitation_topk, coupling_topk

    edges = _rand_digraph(29, 25, 90)
    e = spark.createDataFrame(edges, "src long, dst long")
    rev = spark.createDataFrame([(d, s) for s, d in edges], "src long, dst long")
    a = sorted(map(tuple, coupling_topk(e, k=15).collect()))
    b = sorted(map(tuple, cocitation_topk(rev, k=15).collect()))
    assert a == b


# ---------------------------------------------------------------------------
# Corpus n-gram counts
# ---------------------------------------------------------------------------

def test_ngram_counts_match_python(spark):
    from landscape_spark.text.tfidf import ngram_counts

    docs = [
        (0, "a b c a b"),
        (1, "a b a b"),
        (2, "x"),          # shorter than n: contributes nothing
        (3, ""),
        (4, "c a b c"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    for n in (2, 3):
        counts = {}
        for _, t in docs:
            ws = [w for w in t.split(" ") if w]
            for i in range(len(ws) - n + 1):
                g = " ".join(ws[i:i + n])
                counts[g] = counts.get(g, 0) + 1
        want = sorted(((g, c) for g, c in counts.items()),
                      key=lambda r: (-r[1], r[0]))[:5]
        got = [tuple(r) for r in ngram_counts(df, n=n, k=5).collect()]
        assert got == want, (n, got, want)


# ---------------------------------------------------------------------------
# Degree correlation curve / Zipf exponent
# ---------------------------------------------------------------------------

def test_avg_neighbor_degree_matches_python(spark):
    from landscape_spark.graph.stats import avg_neighbor_degree

    edges = _rand_undirected(30, 30, 90)
    nbrs = {}
    for a, b in edges:
        nbrs.setdefault(a, set()).add(b)
        nbrs.setdefault(b, set()).add(a)
    per_v = {v: sum(len(nbrs[w]) for w in ws) / len(ws)
             for v, ws in nbrs.items()}
    want = {}
    for v, ws in nbrs.items():
        want.setdefault(len(ws), []).append(per_v[v])
    want = {k: (len(vs), round(sum(vs) / len(vs), 6)) for k, vs in want.items()}
    e = spark.createDataFrame(edges, "a long, b long")
    got = {r.deg: (r.n_vertices, r.knn)
           for r in avg_neighbor_degree(e).collect()}
    assert set(got) == set(want)
    for k in want:
        assert got[k][0] == want[k][0]
        assert got[k][1] == pytest.approx(want[k][1], abs=2e-6)


def test_avg_neighbor_degree_star(spark):
    from landscape_spark.graph.stats import avg_neighbor_degree

    # star: center degree 4 sees leaves (deg 1); leaves see center (deg 4)
    e = spark.createDataFrame([(0, 1), (0, 2), (0, 3), (0, 4)], "a long, b long")
    got = {r.deg: (r.n_vertices, r.knn) for r in avg_neighbor_degree(e).collect()}
    assert got == {4: (1, 1.0), 1: (4, 4.0)}


def test_term_zipf_alpha_matches_python(spark):
    from landscape_spark.text.tfidf import term_zipf_alpha

    docs = [(0, "a a a b b c"), (1, "a b c d"), (2, "a a d d")]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    counts = {}
    for _, t in docs:
        for w in t.split():
            counts[w] = counts.get(w, 0) + 1
    fmin = 3
    tail = [f for f in counts.values() if f >= fmin]
    want = 1.0 + len(tail) / sum(math.log(f / (fmin - 0.5)) for f in tail)
    row = term_zipf_alpha(df, fmin=fmin).first()
    assert row.n_tail == len(tail)
    assert row.alpha == pytest.approx(round(want, 6), abs=2e-6)


# ---------------------------------------------------------------------------
# DOULION sampled triangle count
# ---------------------------------------------------------------------------

def test_doulion_pinv1_equals_exact(spark):
    from landscape_spark.graph.triangles import (
        triangle_count,
        triangle_count_sampled,
    )

    edges = _rand_undirected(31, 30, 120)
    e = spark.createDataFrame(edges, "a long, b long")
    row = triangle_count_sampled(e, p_inv=1).first()
    exact = triangle_count(e).first().n_triangles
    assert row.n_sampled_edges == len(edges)
    assert row.sampled_triangles == exact and row.est_triangles == exact


def test_doulion_matches_python_law_replay(spark):
    from landscape_spark.graph.triangles import (
        DOULION_A,
        DOULION_B,
        DOULION_M1,
        triangle_count_sampled,
    )

    edges = _rand_undirected(32, 40, 200)
    p_inv, seed = 3, 11
    kept = [(a, b) for a, b in edges
            if ((a % DOULION_M1) * DOULION_A + (b % DOULION_M1) * DOULION_B
                + seed) % DOULION_M1 % p_inv == 0]
    nbrs = {}
    for a, b in kept:
        nbrs.setdefault(a, set()).add(b)
        nbrs.setdefault(b, set()).add(a)
    tri = sum(1 for a, b in kept for c in nbrs[a] & nbrs[b] if c > b)
    e = spark.createDataFrame(edges, "a long, b long")
    row = triangle_count_sampled(e, p_inv=p_inv, seed=seed).first()
    assert (row.n_sampled_edges, row.sampled_triangles, row.est_triangles) == (
        len(kept), tri, tri * p_inv**3
    )


def test_doulion_estimate_reasonable_at_gate_scale(spark, sf_small):
    """Deterministic law + fixed graph => this is a fixed number, pinned
    within the statistical band DOULION promises at this sample size."""
    from landscape_spark.graph.triangles import (
        triangle_count,
        triangle_count_sampled,
    )
    from landscape_spark import linkgraph

    und = linkgraph.undirected_edges(spark, sf_small).localCheckpoint(eager=True)
    exact = triangle_count(und).first().n_triangles
    est = triangle_count_sampled(und, p_inv=2, seed=7).first().est_triangles
    assert abs(est - exact) / exact < 0.5


# ---------------------------------------------------------------------------
# Eigenvector centrality
# ---------------------------------------------------------------------------

def _eigen_np(edges, n, iters):
    A = np.zeros((n, n))
    for s, d in edges:
        A[s, d] = 1.0
    x = np.full(n, 1.0 / n)
    for _ in range(iters):
        raw = A.T @ x
        tot = raw.sum()
        x = raw / tot if tot > 0 else np.zeros(n)
    return x


@pytest.mark.parametrize("seed", [33, 34])
def test_eigenvector_matches_numpy(spark, seed):
    from landscape_spark.graph.katz import eigenvector_centrality

    n = 40
    edges = _rand_digraph(seed, n, 160)
    e = spark.createDataFrame(edges, "src long, dst long")
    before = persisted(spark)
    out = eigenvector_centrality(e, _verts(spark, n), n, iters=8)
    got = {r.v: r.eigen for r in out.collect()}
    assert_no_litter(spark, before, out)
    want = _eigen_np(edges, n, 8)
    for v in range(n):
        assert got[v] == pytest.approx(want[v], abs=1e-12)


def test_eigenvector_edgeless_is_all_zero(spark):
    from landscape_spark.graph.katz import eigenvector_centrality

    e = spark.createDataFrame([], "src long, dst long")
    got = {r.v: r.eigen
           for r in eigenvector_centrality(e, _verts(spark, 3), 3,
                                           iters=3).collect()}
    assert got == {0: 0.0, 1: 0.0, 2: 0.0}


# ---------------------------------------------------------------------------
# Betweenness (k-source Brandes)
# ---------------------------------------------------------------------------

def _brandes_py(edges, n, sources):
    from collections import deque

    adj = {}
    for s, d in edges:
        adj.setdefault(s, []).append(d)
    bc = dict.fromkeys(range(n), 0.0)
    for s in sources:
        dist, sigma, order, preds = {s: 0}, {s: 1}, [], {}
        q = deque([s])
        while q:
            v = q.popleft()
            order.append(v)
            for w in adj.get(v, ()):
                if w not in dist:
                    dist[w] = dist[v] + 1
                    q.append(w)
                if dist[w] == dist[v] + 1:
                    sigma[w] = sigma.get(w, 0) + sigma[v]
                    preds.setdefault(w, []).append(v)
        delta = dict.fromkeys(order, 0.0)
        for w in reversed(order):
            for v in preds.get(w, ()):
                delta[v] += sigma[v] / sigma[w] * (1 + delta[w])
            if w != s:
                bc[w] += delta[w]
    return bc


@pytest.mark.parametrize("seed", [35, 36])
def test_betweenness_matches_python_brandes(spark, seed):
    from landscape_spark.graph.betweenness import betweenness_sources

    n = 35
    edges = _rand_digraph(seed, n, 120)
    srcs = [0, 1, 2, 5]
    e = spark.createDataFrame(edges, "src long, dst long")
    before = persisted(spark)
    out = betweenness_sources(e, _verts(spark, n), srcs)
    got = {r.v: r.betweenness for r in out.collect()}
    assert_no_litter(spark, before, out)
    want = _brandes_py(edges, n, srcs)
    assert set(got) == set(range(n))
    for v in range(n):
        assert got[v] == pytest.approx(round(want[v], 6), abs=2e-6), v


def test_betweenness_path_graph_exact(spark):
    """Directed path 0->1->2->3 from source 0: delta(1)=2, delta(2)=1 —
    the textbook hand case."""
    from landscape_spark.graph.betweenness import betweenness_sources

    e = spark.createDataFrame([(0, 1), (1, 2), (2, 3)], "src long, dst long")
    got = {r.v: r.betweenness
           for r in betweenness_sources(e, _verts(spark, 4), [0]).collect()}
    assert got == {0: 0.0, 1: 2.0, 2: 1.0, 3: 0.0}


def test_betweenness_diamond_splits_paths(spark):
    """Diamond 0->{1,2}->3: two shortest paths; 1 and 2 each carry half."""
    from landscape_spark.graph.betweenness import betweenness_sources

    e = spark.createDataFrame([(0, 1), (0, 2), (1, 3), (2, 3)],
                              "src long, dst long")
    got = {r.v: r.betweenness
           for r in betweenness_sources(e, _verts(spark, 4), [0]).collect()}
    assert got == {0: 0.0, 1: 0.5, 2: 0.5, 3: 0.0}


def test_betweenness_oracle_depth_is_noop(spark, sf_mid):
    """Raising the unroll past BETWEENNESS_ORACLE_DEPTH must not change
    any value (tail levels are empty; BFS levels are contiguous)."""
    import duckdb

    from landscape_spark.entry_queries import _betweenness_sql

    con = duckdb.connect()
    con.execute(
        f"CREATE TABLE documents AS SELECT * FROM '{sf_mid}/documents.parquet'"
    )
    a = sorted(con.execute(_betweenness_sql()).fetchall())
    b = sorted(con.execute(_betweenness_sql(depth=9)).fetchall())
    assert a == b


def test_degree_percentiles_match_python(spark):
    from landscape_spark.graph.stats import degree_percentiles

    edges = _rand_digraph(37, 40, 200)
    indeg = {}
    for _, d in edges:
        indeg[d] = indeg.get(d, 0) + 1
    vals = sorted(indeg.values())
    n = len(vals)
    want = {}
    for q in (0.25, 0.5, 0.75, 0.9, 0.99):
        k = math.ceil(q * n)
        want[q] = vals[k - 1]
    e = spark.createDataFrame(edges, "src long, dst long")
    got = {r.q: r.value for r in degree_percentiles(e).collect()}
    assert got == want


# ---------------------------------------------------------------------------
# node2vec second-order walks
# ---------------------------------------------------------------------------

def _n2v_py(edges, n, walk_len, wpv, p, q):
    from landscape_spark.graph.walks import (
        H_MOD, H_STEP, H_V, H_WALK, N2V_ADD, WALK_SHIFT,
    )

    adj = {}
    for s, d in edges:
        adj.setdefault(s, []).append(d)
    for s in adj:
        adj[s].sort()
    eset = set(edges)
    rows = []
    for start in range(n):
        for wk in range(wpv):
            prev, v = -1, start
            rows.append((start, wk, 0, v))
            key = start * WALK_SHIFT + wk
            for t in range(1, walk_len + 1):
                cands = adj.get(v)
                if not cands:
                    break
                wts = [
                    (1.0 / p) if w == prev
                    else 1.0 if (prev, w) in eset
                    else (1.0 / q)
                    for w in cands
                ]
                h = ((v % H_MOD) * H_V + (t - 1) * H_STEP
                     + (key % H_MOD) * H_WALK + N2V_ADD) % H_MOD
                tgt = (h / H_MOD) * sum(wts)
                cum = 0.0
                chosen = cands[-1]
                for w, wt in zip(cands, wts):
                    cum += wt
                    if tgt < cum:
                        chosen = w
                        break
                rows.append((start, wk, t, chosen))
                prev, v = v, chosen
    return sorted(rows)


@pytest.mark.parametrize("seed", [38, 39])
def test_node2vec_matches_python(spark, seed):
    from landscape_spark.graph.walks import node2vec_walks

    n = 35
    edges = _rand_digraph(seed, n, 110)
    e = spark.createDataFrame(edges, "src long, dst long")
    before = persisted(spark)
    out = node2vec_walks(e, _verts(spark, n), walk_len=5, walks_per_vertex=2, p=4.0, q=0.25)
    got = sorted(map(tuple, out.collect()))
    assert got == _n2v_py(edges, n, 5, 2, 4.0, 0.25)
    assert_no_litter(spark, before, out)


def test_node2vec_return_bias_on_triangle(spark):
    """On a directed 2-cycle 0<->1 with p tiny (strong return), the walk
    ping-pongs deterministically: the only candidate IS the return."""
    from landscape_spark.graph.walks import node2vec_walks

    e = spark.createDataFrame([(0, 1), (1, 0)], "src long, dst long")
    got = sorted(map(tuple, node2vec_walks(e, _verts(spark, 2), walk_len=3,
                                           walks_per_vertex=1).collect()))
    # walk from 0: 0,1,0,1 ; from 1: 1,0,1,0
    assert got == [(0, 0, 0, 0), (0, 0, 1, 1), (0, 0, 2, 0), (0, 0, 3, 1),
                   (1, 0, 0, 1), (1, 0, 1, 0), (1, 0, 2, 1), (1, 0, 3, 0)]


def test_node2vec_rejects_non_power_of_two(spark):
    from landscape_spark.graph.walks import node2vec_walks

    e = spark.createDataFrame([(0, 1)], "src long, dst long")
    with pytest.raises(AssertionError):
        node2vec_walks(e, _verts(spark, 2), p=3.0)
