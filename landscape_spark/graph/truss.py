"""Edge triangle support and k-truss decomposition.

Cohesive-subgraph operators one level up from triangle counting (the
reference engine is connectivity-only; webtext/link-graph axes). The
support of an edge is the number of triangles containing it; the k-truss
(Cohen 2008) is the maximal subgraph in which EVERY edge has support
>= k-2 within the subgraph — the standard spam-cluster / tight-community
extractor on web graphs (stricter than k-core, looser than clique).

``edge_support`` rides the same degree-oriented triangle enumeration as
graph/triangles.py (oriented out-degree O(sqrt(m)) even at hubs — the
wedge join never explodes), exploding each found triangle to its three
canonical edges and aggregating.

``k_truss`` is the synchronous peel: every round recomputes support on
the surviving subgraph and deletes ALL under-threshold edges at once —
deterministic (no tie-breaking), and the round count is O(peel depth),
not O(edges). Per round: one triangle enumeration (two joins + an
aggregate) + one semi-join + one count action for the fixpoint probe.
Lineage is cut per round (checkpoint.step, which frees the round it
replaces), so round r never re-executes rounds 0..r-1.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from landscape_spark.checkpoint import _release, rounds, step
from landscape_spark.graph.triangles import _oriented_by_degree


def edge_support(und_edges: DataFrame) -> DataFrame:
    """(a, b, support) for every canonical undirected edge (a < b):
    support = number of triangles containing the edge (0 included via the
    final left join — the output covers ALL input edges)."""
    return _edge_support_from(_oriented_by_degree(und_edges), und_edges)


def _edge_support_from(o: DataFrame, und_edges: DataFrame) -> DataFrame:
    """edge_support over a caller-supplied oriented relation ``o`` — the
    peel loop caches o per round so its three references here (both wedge
    sides + the closing edge) stop re-running the orientation joins."""
    e1 = o.select(F.col("u"), F.col("x").alias("v1"))
    e2 = o.select(F.col("u"), F.col("x").alias("v2"))
    wedges = e1.join(e2, on="u").where(F.col("v1") < F.col("v2"))
    closing = o.select(
        F.least("u", "x").alias("lo"), F.greatest("u", "x").alias("hi")
    )
    tris = wedges.join(
        closing,
        (F.least("v1", "v2") == F.col("lo"))
        & (F.greatest("v1", "v2") == F.col("hi")),
        "inner",
    )
    tri_edges = tris.select(
        F.explode(
            F.array(
                F.struct(
                    F.least("u", "v1").alias("a"), F.greatest("u", "v1").alias("b")
                ),
                F.struct(
                    F.least("u", "v2").alias("a"), F.greatest("u", "v2").alias("b")
                ),
                F.struct(
                    F.least("v1", "v2").alias("a"),
                    F.greatest("v1", "v2").alias("b"),
                ),
            )
        ).alias("e")
    ).select("e.a", "e.b")
    supp = tri_edges.groupBy("a", "b").agg(F.count(F.lit(1)).alias("support"))
    return und_edges.join(supp, on=["a", "b"], how="left").select(
        "a", "b", F.coalesce("support", F.lit(0)).alias("support")
    )


def k_truss(
    und_edges: DataFrame, k: int, max_rounds: int = 64
) -> DataFrame:
    """(a, b, support) — the edges of the k-truss, with each edge's
    support WITHIN the truss subgraph (>= k-2 by definition).

    k <= 2 returns the whole graph (every edge trivially satisfies
    support >= 0; supports are then w.r.t. the full graph). Each round of
    the synchronous peel strictly shrinks the edge set until the fixpoint,
    so it terminates; a peel deeper than ``max_rounds`` RAISES
    RuntimeError (checkpoint.rounds) rather than return a partial truss."""
    k = int(k)
    count = F.count(F.lit(1))
    # NOTE measured, kept recompute: caching the oriented relation for each
    # round's three references benched +18% at sf0.1 — the cache
    # materialization job costs more than two recomputes of the narrow
    # broadcast-join orientation over the checkpointed edge set
    e, stats = step(und_edges.select("a", "b"), n=count)
    supp, _ = step(edge_support(e), release=(e,))
    if k <= 2:
        return supp
    n_prev = stats["n"]
    for _ in rounds(
        "k_truss", max_rounds, "edges are still being peeled; raise max_rounds", on_cap="raise"
    ):
        # survivor count rides the checkpoint action (integer — exact)
        e, stats = step(supp.where(F.col("support") >= F.lit(k - 2)).select("a", "b"), n=count)
        if stats["n"] == n_prev:
            # nothing was deleted: supp is already the support within the
            # surviving subgraph — exact fixpoint
            _release(e)
            return supp
        if stats["n"] == 0:
            _release(e)
            return supp.where(F.lit(False))
        supp, _ = step(edge_support(e), release=(e, supp))
        n_prev = stats["n"]
