"""The one round loop of graph/ (checkpoint.rounds / checkpoint.expand):
every capped operator at cap 1 warns, raises, or returns its declared
bounded result silently; at its default cap, and on an empty edge set or a
single vertex, it stays silent. Plus a no-Spark guard that keeps the
exhaustion policy in checkpoint.rounds alone."""

from __future__ import annotations

import ast
import warnings
from pathlib import Path
from types import SimpleNamespace

import numpy as np
import pytest

import landscape_spark.graph as graph_pkg
from landscape_spark.graph.betweenness import betweenness_sources
from landscape_spark.graph.bowtie import _reachable
from landscape_spark.graph.cc import _local_frame, connected_components_exact
from landscape_spark.graph.kcore import coreness
from landscape_spark.graph.scc import strongly_connected_components
from landscape_spark.graph.traversal import bfs_distances, sssp_weighted
from landscape_spark.graph.truss import k_truss
from tests.conftest import assert_no_litter, persisted

# hook roots 1 and 0 survive the first round (1's only neighbour is 3)
HOOK_PATH = [(1, 3), (3, 0), (0, 2)]
STAR = [(0, 1), (0, 2), (0, 3), (0, 4)]  # degree 4 -> H-index 1 in round 1
TRIANGLE_TAIL = [(0, 1), (1, 2), (2, 0), (2, 3)]  # the tail peels in round 1
PATH = [(0, 1), (1, 2), (2, 3)]  # weights 1, 2, 3
TWO_CYCLES = [(0, 1), (1, 2), (2, 0), (2, 3), (3, 4), (4, 5), (5, 3)]

# name, {cap keyword: outcome at cap 1}, input, run(g, **cap), rows at cap 1
# for a bounded ("return") contract
OPERATORS = [
    ("connected_components_exact", {"max_iter": "warn"}, HOOK_PATH,
     lambda g, **kw: connected_components_exact(g.und, g.verts, **kw), None),
    ("coreness", {"max_iter": "warn"}, STAR,
     lambda g, **kw: coreness(g.und, g.verts, **kw), None),
    ("sssp_weighted", {"max_iter": "warn"}, PATH,
     lambda g, **kw: sssp_weighted(g.edges, [0], **kw), None),
    # the outer loop, then the forward coloring
    ("strongly_connected_components", {"max_outer": "warn", "max_label_iter": "raise"},
     TWO_CYCLES, lambda g, **kw: strongly_connected_components(g.edges, g.verts, **kw), None),
    ("k_truss", {"max_rounds": "raise"}, TRIANGLE_TAIL,
     lambda g, **kw: k_truss(g.und, 3, **kw), None),
    ("bow-tie reachability", {"max_iter": "warn"}, PATH,
     lambda g, **kw: _reachable(g.edges, g.verts.where("v = 0"), **kw), None),
    ("bfs_distances", {"max_iter": "return"}, PATH,
     lambda g, **kw: bfs_distances(g.edges, [0], **kw), [(0, 0), (1, 1)]),
    ("betweenness_sources", {"max_depth": "return"}, PATH,
     lambda g, **kw: betweenness_sources(g.edges, g.verts, [0], **kw),
     [(0, 0.0), (1, 0.0), (2, 0.0), (3, 0.0)]),
]


def _graph(spark, pairs, n):
    """Directed (src, dst, w) edges with w = src + 1, their canonical
    undirected (a, b) pairs, and the vertices [0, n)."""
    src, dst = np.asarray(pairs, dtype=np.int64).reshape(-1, 2).T
    lo, hi = np.unique(np.stack([np.minimum(src, dst), np.maximum(src, dst)]), axis=1)
    return SimpleNamespace(
        edges=_local_frame(spark, {"src": src, "dst": dst, "w": src + 1},
                           "src long, dst long, w long"),
        und=_local_frame(spark, {"a": lo, "b": hi}, "a long, b long"),
        verts=_local_frame(spark, {"v": np.arange(n, dtype=np.int64)}, "v long"),
    )


def _run(run, g, **kw):
    """(result, its sorted rows, the cap messages it gave)."""
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        out = run(g, **kw)
        rows = sorted(map(tuple, out.collect()))
    said = [x for x in w if "did not converge" in str(x.message)]
    assert all(x.category is RuntimeWarning for x in said)
    return out, rows, [str(x.message) for x in said]


@pytest.mark.parametrize("graph", ["cap", "empty", "single"])
@pytest.mark.parametrize("op", OPERATORS, ids=[op[0].replace(" ", "_") for op in OPERATORS])
def test_round_cap_policy(spark, op, graph):
    """At cap 1 an operator warns, raises or returns its bounded result
    silently, as it declares, and leaves no checkpoint behind that its
    result does not read; at its default cap it is silent, and an empty
    edge set (no vertices) or a single vertex neither raises nor warns."""
    name, caps, pairs, run, at_cap = op
    if graph != "cap":
        assert _run(run, _graph(spark, [], 0 if graph == "empty" else 1))[2] == []
        return
    g = _graph(spark, pairs, int(np.max(pairs)) + 1)
    for cap_kw, outcome in caps.items():
        if outcome == "raise":
            with pytest.raises(RuntimeError, match="did not converge within 1 rounds — "):
                run(g, **{cap_kw: 1})
            continue
        before = persisted(spark)
        out, rows, said = _run(run, g, **{cap_kw: 1})
        if outcome == "warn":
            assert len(said) == 1, said
            assert said[0].startswith(f"{name} did not converge within 1 rounds — ")
        else:
            assert said == [] and rows == at_cap
        assert_no_litter(spark, before, out)
    assert _run(run, g)[2] == []


def test_graph_modules_leave_cap_policy_to_rounds():
    """No graph/ module imports warnings or raises RuntimeError: every cap
    outcome goes through checkpoint.rounds."""
    offenders = []
    for path in sorted(Path(graph_pkg.__file__).parent.glob("*.py")):
        for node in ast.walk(ast.parse(path.read_text())):
            if isinstance(node, ast.Import):
                names = [a.name for a in node.names]
            elif isinstance(node, ast.ImportFrom):
                names = [node.module or ""]
            elif isinstance(node, ast.Raise) and node.exc is not None:
                exc = node.exc.func if isinstance(node.exc, ast.Call) else node.exc
                names = [exc.id] if isinstance(exc, ast.Name) else []
            else:
                continue
            offenders += [
                f"{path.name}:{node.lineno} {name}"
                for name in names
                if name.split(".")[0] in ("warnings", "RuntimeError")
            ]
    assert not offenders, offenders
