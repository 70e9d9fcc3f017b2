"""Strongly connected components on the DIRECTED link graph.

Link-graph analysis operator (the reference engine's CC is undirected
connectivity; SCC belongs to the webtext/link-graph axes). On a web
corpus this is the bow-tie decomposition primitive (Broder et al.,
WWW 2000): the giant SCC plus IN/OUT tendrils is the standard map of a
crawl's link structure, and trivial-SCC trimming is how crawl-frontier
dead ends are identified.

Algorithm: the trim + forward-backward coloring family (public method —
Orzan's coloring, Slota et al.'s Multistep; both are the standard
distributed SCC formulations, chosen over Tarjan because DFS does not
distribute). Each outer round:

1. TRIM to fixpoint: a vertex with in-degree 0 or out-degree 0 in the
   remaining graph is a singleton SCC — assign comp=v, remove, repeat.
   This alone resolves any DAG portion without a single label round and
   is what keeps outer-round counts low on web graphs.
2. FORWARD COLORING: min-label propagation along edge direction to
   fixpoint — color(v) = min vertex id that reaches v within the
   remaining graph (messages with color >= receiver id are dropped
   pre-shuffle, the cc.py monotonicity trick; SUM of labels is the O(1)
   convergence certificate). Exhausting max_label_iter RAISES: colors
   short of their fixpoint would make the mark below under-approximate
   SCCs.
3. BACKWARD MARK: roots are vertices with color(v) = v. Mark the root
   set, then expand backwards along edges STAYING INSIDE the root's
   color class, frontier-synchronously (each edge fires at most once
   per outer round; checkpoint.expand, capped by the vertices left, which
   no mark can exhaust). The marked set of root r is exactly SCC(r), and
   r is the minimum id in it — so comp = color is already the
   canonical min-id component label, matching the undirected CC
   convention.
4. Assign marked SCCs, drop them from the remaining graph, repeat.

Every SCC found in a round is independent (different color classes), so
one round typically resolves many components; outer rounds are bounded
by the depth of the SCC condensation DAG that survives trimming, and
exhausting max_outer with vertices unassigned WARNS. Both caps go through
checkpoint.rounds.

Scale notes: all state is vertex-partitioned DataFrames; per inner round
one shuffle for the message join plus the min/distinct aggregate. The
remaining-graph edge relation is re-derived by semi-join each outer
round and checkpointed, so lineage stays O(1) across the nested loops;
every checkpoint goes through checkpoint.step, which frees the one it
replaces, and only the assigned SCC parts outlive the call.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from landscape_spark.checkpoint import _release, expand, rounds, step


def strongly_connected_components(
    edges: DataFrame,
    vertices: DataFrame,
    max_outer: int = 64,
    max_label_iter: int = 512,
) -> DataFrame:
    """Return (v, comp): comp is the MIN vertex id in v's strongly
    connected component (unique canonical fixpoint, same convention as
    the undirected CC operators). edges: (src, dst); vertices: (v).

    The result is a lazy union over this call's per-round checkpoints (the
    SCCs each round assigned), which stay persisted while it is read; a
    caller that re-checkpoints it frees them with checkpoint._release."""
    count = F.count(F.lit(1))
    remaining, _ = step(vertices.select("v"))
    edges_rem, _ = step(edges.select("src", "dst"))
    assigned: list[DataFrame] = []

    for _ in rounds(
        "strongly_connected_components",
        max_outer,
        "vertices are still unassigned: the condensation DAG is deeper than the "
        "round budget; raise max_outer",
    ):
        # --- 1. trim singleton SCCs (in-deg 0 or out-deg 0) to fixpoint ---
        while True:
            # one endpoint-flag aggregate replaces the two distinct passes:
            # a vertex survives iff it occurs as BOTH a src and a dst
            keep_v = (
                edges_rem.select(F.col("src").alias("v"), F.lit(1).alias("o"), F.lit(0).alias("i"))
                .unionAll(
                    edges_rem.select(F.col("dst").alias("v"), F.lit(0).alias("o"), F.lit(1).alias("i"))
                )
                .groupBy("v")
                .agg(F.max("o").alias("o"), F.max("i").alias("i"))
                .where((F.col("o") == 1) & (F.col("i") == 1))
                .select("v")
            )
            # emptiness probes ride the checkpoint actions via observe()
            keep, kept = step(remaining.join(keep_v, on="v", how="left_semi"), n=count)
            trimmed, cut = step(
                remaining.join(keep, on="v", how="left_anti"), release=(remaining,), n=count
            )
            remaining = keep
            if cut["n"] == 0:
                _release(trimmed)
                break
            assigned.append(trimmed.select("v", F.col("v").alias("comp")))
            # shrink against the (typically small) TRIMMED set — an
            # anti-join Catalyst broadcasts when it fits, instead of two
            # semi-joins against the n-sized keep set
            edges_rem, _ = step(
                edges_rem.join(
                    trimmed.withColumnRenamed("v", "src"), on="src", how="left_anti"
                ).join(trimmed.withColumnRenamed("v", "dst"), on="dst", how="left_anti"),
                release=(edges_rem,),
            )
        if kept["n"] == 0:
            break

        # NOTE measured, kept plain: materializing orientation-partitioned
        # cached copies of edges_rem per outer round benched +10% at sf0.1
        # — the color/frontier side broadcasts while it fits, so the two
        # cache-building exchanges bought nothing per inner round

        # --- 2. forward coloring: color(v) = min id reaching v ---
        # the certificate (INTEGER color sum — exact under any task merge
        # order) rides each checkpoint action via observe(): no separate
        # per-round certificate job
        colors, stats = step(
            remaining.select("v", F.col("v").alias("color")), s=F.sum("color")
        )
        prev_sum = stats["s"]
        # un-converged colors would make the backward mark under-approximate
        # SCCs — not a partial result we are willing to return
        for _ in rounds(
            "strongly_connected_components' forward coloring",
            max_label_iter,
            "colors are still falling; raise max_label_iter",
            on_cap="raise",
        ):
            msgs = (
                edges_rem.join(colors.withColumnRenamed("v", "src"), on="src")
                .select(F.col("dst").alias("v"), "color")
                # color(u) <= u, so a message with color >= v can never
                # lower v's label — drop pre-shuffle (cc.py monotonicity)
                .where(F.col("color") < F.col("v"))
            )
            colors, stats = step(
                msgs.unionAll(colors).groupBy("v").agg(F.min("color").alias("color")),
                release=(colors,),
                s=F.sum("color"),
            )
            if stats["s"] == prev_sum:
                break
            prev_sum = stats["s"]

        # --- 3. backward mark from roots within each color class ---
        # a mark is at most as deep as its class is large, so the vertices
        # left after the trim are a cap no mark reaches
        marked = expand(
            "strongly_connected_components' backward mark",
            kept["n"],
            colors.where(F.col("color") == F.col("v")).select("v", F.col("color").alias("comp")),
            lambda frontier, _: edges_rem.join(frontier.withColumnRenamed("v", "dst"), on="dst")
            .select(F.col("src").alias("v"), "comp")
            .join(colors, on="v")
            .where(F.col("color") == F.col("comp"))
            .select("v", "comp")
            .distinct(),
            partial="the mark outgrew its color class, which cannot happen",
            on_cap="raise",
        )

        # --- 4. assign the SCCs found this round and shrink the graph ---
        assigned.append(marked)
        remaining, stats = step(
            remaining.join(marked.select("v"), on="v", how="left_anti"),
            release=(remaining, colors),
            n=count,
        )
        if stats["n"] == 0:
            break
        # shrink against the small marked set (broadcastable), not the
        # n-sized remaining set — same anti-join trick as the trim
        edges_rem, _ = step(
            edges_rem.join(
                marked.select(F.col("v").alias("src")), on="src", how="left_anti"
            ).join(marked.select(F.col("v").alias("dst")), on="dst", how="left_anti"),
            release=(edges_rem,),
        )

    _release(edges_rem)
    if not assigned:
        # no vertex at all: the empty result reads only this call's state
        return remaining.select("v", F.col("v").alias("comp")).limit(0)
    _release(remaining)
    return reduce(DataFrame.unionAll, assigned)
