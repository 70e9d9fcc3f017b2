"""Multi-source BFS hop distances and weighted shortest paths — crawl
cost from a seed set.

Link-graph analysis operator in the same class as PageRank/HITS (the
reference engine is connectivity-only; this belongs to the webtext /
link-graph axes). The canonical use on a web corpus is crawl-frontier
depth: "how many link hops from the seed list does each page sit?" —
the signal crawl schedulers and seed-biased curation pipelines cut on.

Algorithm: synchronous frontier expansion. dist(seed) = 0; round d
expands the round-(d-1) frontier along out-edges, keeping only vertices
not yet reached. Unlike the label loops (lpa.py) whose per-round
messages are O(m), BFS messages are FRONTIER-sized: each edge
fires exactly once over the whole run (when its src enters the
frontier), so total traffic is O(m) across ALL rounds — the textbook
level-synchronous BFS cost, and the reason this is not expressed as a
bounded min-plus iteration.

Scale notes per round: one shuffle for the frontier join (the frontier
side is the small side — AQE broadcasts it while it fits, and web-graph
frontiers peak at a few percent of n), one distinct on the candidate
set, one anti-join against the visited table (hash-partitioned on v both
times, so the exchange is reused). The loop is checkpoint.expand: lineage
is cut every round (checkpoint.step, which frees the round it replaces) to
keep the plan O(1), and the loop terminates the first round the frontier
comes back empty, its row count observed on the frontier's own checkpoint
job.

Unreached vertices are absent from the output (a left join against the
vertex table is the caller's choice of NULL vs sentinel).
"""

from __future__ import annotations

from collections.abc import Sequence

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from landscape_spark.checkpoint import _release, expand, rounds, step
from landscape_spark.graph.cc import _local_frame


def _seed_frame(spark, seeds: Sequence[int], dist_type: str) -> DataFrame:
    """(v, dist=0) over the distinct seeds, built through Arrow: the round-0
    state, which reads no checkpoint."""
    v = np.asarray(list(dict.fromkeys(int(s) for s in seeds)), dtype=np.int64)
    zeros = np.zeros(v.size, dtype=np.int32 if dist_type == "int" else np.int64)
    return _local_frame(spark, {"v": v, "dist": zeros}, f"v long, dist {dist_type}")


def bfs_distances(
    edges: DataFrame,
    seeds: Sequence[int],
    max_iter: int = 128,
) -> DataFrame:
    """Return (v, dist) — minimum hop count from any seed along DIRECTED
    edges (src, dst). Only reached vertices appear. max_iter bounds rounds
    at the graph's seed eccentricity (web graphs: ~tens); hitting the cap
    returns the correct ≤max_iter-hop ball, and distances in it are exact:
    the declared bounded result, so the cap passes without a message.
    """
    # NOTE measured, kept: accumulating dist as a LAZY union of the
    # checkpointed levels (no per-round copy) re-scans L fragments in
    # every round's anti-join and benched +6% at sf0.1 — expand's
    # consolidated re-checkpoint wins despite the extra job
    return expand(
        "bfs_distances",
        max_iter,
        _seed_frame(edges.sparkSession, seeds, "int"),
        lambda frontier, d: edges.join(frontier.select(F.col("v").alias("src")), on="src")
        .select(F.col("dst").alias("v"))
        .distinct()
        .select("v", F.lit(d).cast("int").alias("dist")),
        on_cap="return",
    )


def sssp_weighted(
    edges: DataFrame,
    seeds: Sequence[int],
    weight_col: str = "w",
    max_iter: int = 256,
) -> DataFrame:
    """(v, dist) — minimum total edge weight from any seed along DIRECTED
    weighted edges (src, dst, ``weight_col``); weights must be positive
    integers (crawl cost / link-multiplicity distance), so distances are
    EXACT int64 arithmetic — no float summation anywhere. Only reached
    vertices appear.

    Frontier Bellman–Ford: round t relaxes out-edges of ONLY the vertices
    whose distance improved in round t-1 (the delta-stepping intuition
    without the bucket machinery — an edge re-fires only when its source
    improves, which positive weights bound by the distinct-distance count,
    in practice a few rounds past the hop eccentricity). Per round: one
    frontier-sized join + a min-aggregate + one join against the distance
    table; lineage cut per round (checkpoint.step). Terminates exactly when
    no distance improves (empty frontier); reaching max_iter rounds with
    the frontier still non-empty WARNS (checkpoint.rounds): some distances
    may then be too large."""
    ew = edges.select(
        "src", "dst", F.col(weight_col).cast("long").alias("_w")
    )
    frontier = _seed_frame(edges.sparkSession, seeds, "long")
    dist, _ = step(frontier)
    for _ in rounds(
        "sssp_weighted",
        max_iter,
        "frontier non-empty, so some distances may be too large; raise max_iter",
    ):
        cand = (
            ew.join(
                frontier.select(
                    F.col("v").alias("src"), F.col("dist").alias("_d")
                ),
                on="src",
            )
            .groupBy(F.col("dst").alias("v"))
            .agg(F.min(F.col("_d") + F.col("_w")).alias("cand"))
        )
        joined = cand.join(dist, on="v", how="left")
        improved, stats = step(
            joined.where(
                F.col("dist").isNull() | (F.col("cand") < F.col("dist"))
            ).select("v", F.col("cand").alias("dist")),
            release=(frontier,),
            n=F.count(F.lit(1)),
        )
        if stats["n"] == 0:
            _release(improved)
            break
        dist, _ = step(
            dist.join(improved.select("v"), on="v", how="left_anti").unionAll(improved),
            release=(dist,),
        )
        frontier = improved
    else:
        _release(frontier)
    return dist
