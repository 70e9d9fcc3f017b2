"""Reference computations the benchmark checks program outputs against.

Everything here is independent of the code under test: plain Python
union-find and XOR parity over the raw update stream. The DuckDB oracles of
``__spark_entry__.oracle_sql()`` are run by the link-analytics workload itself
(they need its documents table).
"""

from __future__ import annotations

import numpy as np


class UnionFind:
    """Union-find whose representative is the minimum vertex id of the set,
    the same canonical label the program's CC operators return."""

    def __init__(self) -> None:
        self.parent: dict[int, int] = {}

    def find(self, x: int) -> int:
        parent = self.parent
        root = x
        while parent.get(root, root) != root:
            root = parent[root]
        while x != root:
            nxt = parent.get(x, x)
            parent[x] = root
            x = nxt
        return root

    def union(self, a: int, b: int) -> bool:
        ra, rb = self.find(a), self.find(b)
        if ra == rb:
            return False
        if ra < rb:
            self.parent[rb] = ra
        else:
            self.parent[ra] = rb
        return True

    def add_edges(self, a: np.ndarray, b: np.ndarray) -> "UnionFind":
        for x, y in zip(a.tolist(), b.tolist()):
            self.union(x, y)
        return self


def components(a: np.ndarray, b: np.ndarray) -> UnionFind:
    return UnionFind().add_edges(a, b)


class ParityGraph:
    """Net edge set of an insert/delete stream: an edge is present iff its
    canonical pair occurred an odd number of times (XOR semantics)."""

    def __init__(self, n: int) -> None:
        self.n = n
        self.present: set[int] = set()

    def toggle(self, a: np.ndarray, b: np.ndarray) -> "ParityGraph":
        lo = np.minimum(a, b)
        hi = np.maximum(a, b)
        keep = lo != hi
        codes, counts = np.unique(lo[keep] * self.n + hi[keep], return_counts=True)
        self.present.symmetric_difference_update(codes[counts % 2 == 1].tolist())
        return self

    def edges(self) -> tuple[np.ndarray, np.ndarray]:
        codes = np.fromiter(self.present, dtype=np.int64, count=len(self.present))
        codes.sort()
        return codes // self.n, codes % self.n


def label_mismatches(vs: np.ndarray, comps: np.ndarray, uf: UnionFind) -> int:
    """Number of (v, comp) rows whose comp is not uf's min-id label of v."""
    return sum(1 for v, c in zip(vs.tolist(), comps.tolist()) if uf.find(v) != c)


def reach_mismatches(
    a: np.ndarray, b: np.ndarray, connected: np.ndarray, uf: UnionFind
) -> int:
    return sum(
        1
        for x, y, c in zip(a.tolist(), b.tolist(), connected.tolist())
        if (uf.find(x) == uf.find(y)) != bool(c)
    )
