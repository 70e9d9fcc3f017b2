"""Bow-tie decomposition of the directed link graph (Broder et al., WWW 2000).

The canonical map of a web crawl's link structure: the giant strongly
connected CORE, the IN set (reaches the core), the OUT set (reachable
from the core), TENDRILs (weakly but not directionally attached), and
DISCONNECTED islands. This is the standard first summary a link-graph
user computes after SCC — it composes the engine's SCC and frontier-
reachability primitives, adding nothing driver-sized.

Region semantics (Broder's full 6-way map):

- CORE:         the largest SCC (ties broken by MIN component id, so the
                choice is deterministic and engine-portable)
- IN:           reaches CORE, not in it
- OUT:          reachable from CORE, not in it
- TUBE:         on an IN→OUT path that bypasses the core (reachable from
                the IN set AND reaches the OUT set, in none of the above)
- TENDRIL:      weakly connected to CORE but in none of the above
                (hangs off IN forward-only, or feeds OUT backward-only)
- DISCONNECTED: in a different weak component from CORE entirely

Plan shape: one SCC run (graph/scc.py), four frontier-synchronous
reachability sweeps (forward/backward from the core, forward from IN,
backward from OUT — each edge fires at most once per sweep, the
graph/traversal.py cost model, each a checkpoint.expand closure that
frees the rounds it replaces and warns at its cap), one exact CC run
(graph/cc.py) for the weak components, then a single CASE projection. All
state is vertex-partitioned DataFrames, and the SCC labels are
re-checkpointed once so the per-round parts they read can be freed too.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from landscape_spark.checkpoint import _release, expand, step
from landscape_spark.graph.cc import connected_components_exact
from landscape_spark.graph.scc import strongly_connected_components


def _reachable(edges: DataFrame, seeds: DataFrame, max_iter: int = 512) -> DataFrame:
    """(v) reachable from the seed DataFrame along (src, dst) edges —
    seeds included. Frontier-synchronous (checkpoint.expand): each edge
    fires once across the run, when its src enters the reached set.
    Reaching max_iter rounds with the frontier still non-empty WARNS: the
    reached set is then incomplete."""
    return expand(
        "bow-tie reachability",
        max_iter,
        seeds.select("v").distinct(),
        lambda frontier, _: edges.join(frontier.withColumnRenamed("v", "src"), on="src")
        .select(F.col("dst").alias("v"))
        .distinct(),
        partial="frontier non-empty, so the reached set is incomplete; raise max_iter",
    )


def bowtie_decomposition(
    edges: DataFrame,
    und_edges: DataFrame,
    vertices: DataFrame,
) -> DataFrame:
    """Return (v, region) with region in {CORE, IN, OUT, TUBE, TENDRIL,
    DISCONNECTED}. edges: directed (src, dst); und_edges: canonical
    (a, b) a < b of the same graph; vertices: (v)."""
    from concurrent.futures import ThreadPoolExecutor

    from landscape_spark.session import local_parallelism

    p = local_parallelism(edges.sparkSession)
    # one checkpoint of the SCC labels frees the per-round parts they read
    parts = strongly_connected_components(edges, vertices)
    scc, _ = step(parts, release=(parts,))
    # each orientation cached partitioned on the frontier-join key ONCE:
    # the two sweeps per orientation then reuse the cached partitioning
    # every round (only the frontier moves — guide §2.4)
    e_fwd = edges.select("src", "dst").repartition(p, "src").cache()
    e_bwd = (
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        .repartition(p, "src")
        .cache()
    )
    core_comp = (
        scc.groupBy("comp")
        .agg(F.count(F.lit(1)).alias("sz"))
        .orderBy(F.desc("sz"), F.asc("comp"))
        .limit(1)
    )
    core, _ = step(
        scc.join(F.broadcast(core_comp.select("comp")), on="comp").select("v"),
        release=(scc,),
    )
    # the sweeps (and the weak-CC run) are mutually independent given their
    # seeds — overlap them so one sweep's straggler tail back-fills with the
    # next sweep's tasks (guide §2.6; results are unchanged)
    with ThreadPoolExecutor(max_workers=3) as pool:
        fut_fwd = pool.submit(_reachable, e_fwd, core)  # core + OUT
        fut_bwd = pool.submit(_reachable, e_bwd, core)  # core + IN
        fut_weak = pool.submit(connected_components_exact, und_edges, vertices)
        fwd = fut_fwd.result()
        bwd = fut_bwd.result()
        in_set, _ = step(bwd.join(core, on="v", how="left_anti"))
        out_set, _ = step(fwd.join(core, on="v", how="left_anti"))
        # TUBE membership: reachable from IN and reaching OUT while outside
        # core/IN/OUT. Seeds include IN/OUT themselves; the CASE order makes
        # that harmless (IN/OUT/CORE win first).
        fut_from_in = pool.submit(_reachable, e_fwd, in_set)
        fut_to_out = pool.submit(_reachable, e_bwd, out_set)
        from_in = fut_from_in.result()
        to_out = fut_to_out.result()
        weak = fut_weak.result()
    _release(in_set)
    _release(out_set)
    e_fwd.unpersist()
    e_bwd.unpersist()
    core_weak = weak.join(core, on="v").select(
        F.col("comp").alias("core_wcomp")
    ).distinct()
    return (
        vertices.join(core.select("v", F.lit(1).alias("in_core")), "v", "left")
        .join(fwd.select("v", F.lit(1).alias("fwd")), "v", "left")
        .join(bwd.select("v", F.lit(1).alias("bwd")), "v", "left")
        .join(from_in.select("v", F.lit(1).alias("from_in")), "v", "left")
        .join(to_out.select("v", F.lit(1).alias("to_out")), "v", "left")
        .join(weak, "v", "left")
        .join(F.broadcast(core_weak), F.col("comp") == F.col("core_wcomp"), "left")
        .select(
            "v",
            F.when(F.col("in_core").isNotNull(), F.lit("CORE"))
            .when(F.col("bwd").isNotNull(), F.lit("IN"))
            .when(F.col("fwd").isNotNull(), F.lit("OUT"))
            .when(
                F.col("from_in").isNotNull() & F.col("to_out").isNotNull(),
                F.lit("TUBE"),
            )
            .when(F.col("core_wcomp").isNotNull(), F.lit("TENDRIL"))
            .otherwise(F.lit("DISCONNECTED"))
            .alias("region"),
        )
    )
