"""The driver merge of Borůvka's sampled cut edges (boruvka._spanning_forest)
against networkx, in numpy only: its forest is Kruskal's over the samples in
(group, lo, hi) order, and every component met maps to the least id of its
merged group."""

from __future__ import annotations

import networkx as nx
import numpy as np
import pytest

from landscape_spark.sketch import boruvka
from landscape_spark.sketch.boruvka import _spanning_forest


def _samples(rng, n, m, groups):
    """Random cut-edge samples over n vertices in random components (each
    labelled by its least vertex): duplicate samples, and the same vertex
    pair sampled in several groups."""
    comp = rng.integers(0, max(n // 3, 2), n)
    least = np.full(comp.max() + 1, n)
    np.minimum.at(least, comp, np.arange(n))
    labels = least[comp]
    u, v = rng.integers(0, n, m), rng.integers(0, n, m)
    gi = rng.integers(0, groups, m)
    dup = rng.integers(0, m, m // 4)
    u, v = np.concatenate([u, u[dup]]), np.concatenate([v, v[dup]])
    regroup = rng.integers(0, groups, dup.size)
    gi = np.concatenate([gi, np.where(rng.random(dup.size) < 0.5, gi[dup], regroup)])
    cut = labels[u] != labels[v]
    return gi[cut], u[cut], v[cut], labels[u[cut]], labels[v[cut]]


def _chain(k):
    """k + 1 components 10*i in a chain whose link i is sampled in group
    ctz(i + 1): each Borůvka round merges only the cheapest links left, so
    the merge takes about log2(k) rounds."""
    i = np.arange(k)
    gi = np.array([(int(x + 1) & -int(x + 1)).bit_length() - 1 for x in i])
    u, v = 10 * i + 3, 10 * (i + 1) + 7
    return gi, u, v, 10 * i, 10 * (i + 1)


def _check(gi, u, v, comp_u, comp_v):
    pairs, comp, root = _spanning_forest(gi, u, v, comp_u, comp_v)
    lo, hi = np.minimum(u, v), np.maximum(u, v)
    g = nx.MultiGraph()
    for rank, i in enumerate(np.lexsort((hi, lo, gi)).tolist()):
        g.add_edge(int(comp_u[i]), int(comp_v[i]), weight=rank, pair=(int(lo[i]), int(hi[i])))
    want = [d["pair"] for *_, d in nx.minimum_spanning_edges(g, data=True, keys=True)]
    assert list(map(tuple, pairs.tolist())) == want
    got = dict(zip(comp.tolist(), root.tolist()))
    assert sorted(got) == sorted(g.nodes)
    for c in nx.connected_components(g):
        assert {got[x] for x in c} == {min(c)}
    return pairs


@pytest.mark.parametrize("seed", range(40))
def test_spanning_forest_is_kruskals_forest(seed):
    rng = np.random.default_rng(seed)
    n = int(rng.integers(2, 200))
    _check(*_samples(rng, n, int(rng.integers(0, 300)), 4))


def test_spanning_forest_chain_takes_several_rounds(monkeypatch):
    rounds, jump = [], boruvka._pointer_jump

    def counted(parent):
        rounds.append(1)
        return jump(parent)

    monkeypatch.setattr(boruvka, "_pointer_jump", counted)
    rng = np.random.default_rng(1)
    chain = _chain(64)
    noise = _samples(rng, 500, 400, 4)
    # the chain's components are multiples of 10 above every noise vertex
    chain = tuple(x + 1000 if k else x for k, x in enumerate(chain))
    pairs = _check(*(np.concatenate([a, b]) for a, b in zip(chain, noise)))
    assert len(rounds) >= 4
    assert len(pairs) >= 64
