"""k-core decomposition (coreness) via distributed H-index iteration.

Link-graph analysis operator (the reference engine is connectivity-only;
this belongs to the webtext/link-graph axes like graph/pagerank.py). On a
web corpus, coreness is the classic link-spam / link-farm density signal
(dense farm subgraphs survive high-k peeling; genuine long-tail pages do
not) and the standard "dense nucleus" selector for seed curation.

Algorithm: the H-operator fixpoint (Lü et al., "The H-index of a network
node and its relation to degree and coreness", Nature Communications
2016 — public result): initialize h_0(v) = degree(v); each round set
h_t(v) = H-index of the multiset {h_{t-1}(w) : w ~ v} (the largest k
such that at least k neighbors have value >= k). The sequence is
pointwise monotone non-increasing and its fixpoint is exactly the
coreness. This distributes as a per-vertex aggregate — no sequential
min-degree peel, no global priority queue — which is why it is the
Spark-native formulation (peeling is inherently sequential in k).

Convergence certificate: values are non-negative integers and monotone
non-increasing per vertex, so the global SUM is strictly decreasing
until the fixpoint — when the sum stops changing, NO value changed
(an O(1)-row certificate riding the round's checkpoint). No changed-row
count, no extra join.

Scale notes per round: one shuffle joining the state to the symmetric
edge list (on the neighbor key), one exchange for the per-vertex window
(rank neighbors by value desc; the following aggregate rides the same
hash partitioning). The window streams each vertex's neighbor list with
spill — nothing materializes a hub's full neighbor array in one row
(the collect_list formulation would). Rounds to fixpoint are bounded by
the peeling depth of the graph (worst case O(n) on a path, tens on web
graphs); lineage is cut every round (checkpoint.step, which frees the
round it replaces).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from landscape_spark.checkpoint import rounds, step
from landscape_spark.graph.cc import symmetrize
from landscape_spark.session import local_parallelism


def _h_round(sym: DataFrame, state: DataFrame) -> DataFrame:
    """One H-operator round over the edge-incident vertices: h'(v) = H-index
    of {h(w) : w ~ v}, as (v, h). Its physical shape — one join exchange
    plus one per-vertex window exchange, the aggregate riding the window's
    hash partitioning — is pinned by a plan test."""
    w = Window.partitionBy("v").orderBy(F.desc("hw"))
    msgs = sym.join(
        state.select(F.col("v").alias("w"), F.col("h").alias("hw")), on="w"
    ).select("v", "hw")
    return (
        msgs.withColumn("rn", F.row_number().over(w))
        # hw desc-sorted, rn ascending: hw >= rn is prefix-closed, so
        # the max satisfying rank IS the H-index of the neighbor values
        .groupBy("v")
        .agg(
            F.max(
                F.when(F.col("hw") >= F.col("rn"), F.col("rn")).otherwise(0)
            ).cast("long").alias("h")
        )
    )


def coreness(
    und_edges: DataFrame,
    vertices: DataFrame,
    max_iter: int = 512,
) -> DataFrame:
    """Return (v, core) — each vertex's coreness (max k with v in the
    k-core). und_edges: canonical (a, b) with a < b; vertices: (v).
    Isolated vertices have core 0. Exhausting max_iter before the sum
    certificate holds WARNS (checkpoint.rounds): the values are then upper
    bounds on the true coreness.
    """
    # adjacency materialized once, partitioned on the MESSAGE key (w): each
    # round's join then reuses the cached partitioning and only the
    # vertex-sized state frame moves (guide §2.4)
    sym = symmetrize(und_edges).repartition(
        local_parallelism(und_edges.sparkSession), "w"
    ).cache()
    # the loop runs over edge-incident vertices only — every such vertex
    # receives >= 1 message per round, so the aggregate's domain is stable
    # and the per-round O(n) vertices left-join stays OUT of the loop;
    # isolated vertices are constant core 0 and rejoin in the final select
    # (the global cert sum is unchanged: isolated vertices contribute 0).
    # the convergence certificate (global INTEGER sum — exact under any
    # task-completion merge order) rides the checkpoint action itself via
    # observe(), so no round pays a separate O(n)-scan certificate job
    state, stats = step(
        sym.groupBy("v").agg(F.count(F.lit(1)).cast("long").alias("h")),
        s=F.sum("h"),
    )
    prev_sum = stats["s"]
    for _ in rounds(
        "coreness",
        max_iter,
        "values are still decreasing (upper bounds on the true coreness); raise max_iter",
    ):
        state, stats = step(_h_round(sym, state), release=(state,), s=F.sum("h"))
        if stats["s"] == prev_sum:
            break
        prev_sum = stats["s"]
    sym.unpersist()  # state is checkpointed
    return vertices.join(state, on="v", how="left").select(
        "v", F.coalesce("h", F.lit(0)).cast("long").alias("core")
    )


def k_core(
    und_edges: DataFrame,
    vertices: DataFrame,
    k: int,
    max_iter: int = 512,
) -> DataFrame:
    """Vertices of the k-core (v, core) — the maximal subgraph where every
    vertex has degree >= k inside it. A filter over coreness (one pass
    serves every k, unlike per-k peeling)."""
    return coreness(und_edges, vertices, max_iter=max_iter).where(
        F.col("core") >= F.lit(int(k))
    )
