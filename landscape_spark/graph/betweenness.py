"""k-source betweenness centrality — distributed Brandes over DataFrames.

The last of the canonical centralities (PageRank/Katz/eigenvector/HITS/
SALSA measure endorsement; betweenness measures BROKERAGE — pages that
sit on many shortest paths, the navigational chokepoints of a crawl).
Exact betweenness is O(nm) (Brandes 2001); the standard web-scale
practice is pivot sampling (Brandes & Pich 2007): run Brandes from a
fixed source set S and publish the S-restricted sum — exact for the
chosen pivots, deterministic here because S is fixed (the hub seeds).

Both Brandes phases run for ALL sources simultaneously by keying state
on (s, v) — |S| interleaved BFS DAGs in one set of joins:

  forward, level t:   sigma_s(w) = sum over preds v of sigma_s(v)
                      (path counts; first time (s, w) is reached)
  backward, level t:  delta_s(v) = sum over succs w of
                      sigma_s(v)/sigma_s(w) * (1 + delta_s(w))
  betweenness(v)    = sum_s delta_s(v)   over v != s

Plan shape per level (both phases): one frontier-sized hash join against
the src-partitioned edge relation + one (s, v) aggregate — the BFS
discipline (each edge fires once per source per phase, total O(|S| * m)
traffic across the whole run); an anti-join against the reached set
keeps the forward frontier minimal. Path counts are exact int64 (sigma
overflows int64 only past ~9e18 shortest paths per (s,v) — far beyond
any graph this runs on at gate scale; the oracle uses BIGINT too, so
overflow would at worst break both sides identically). Lineage is cut
per level (checkpoint.step). The forward levels are a checkpoint.expand
closure that keeps every level until the backward phase has checkpointed
its delta (the levels are that phase's schedule); ``max_depth`` bounds
them, and a sweep cut there returns its depth-bounded sum silently.
"""

from __future__ import annotations

from collections.abc import Sequence
from functools import reduce

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from landscape_spark.checkpoint import _release, expand, step
from landscape_spark.graph.cc import _local_frame
from landscape_spark.session import local_parallelism


def betweenness_sources(
    edges: DataFrame,
    vertices: DataFrame,
    sources: Sequence[int],
    max_depth: int = 64,
) -> DataFrame:
    """(v, betweenness): directed, unnormalized Brandes sum restricted to
    ``sources`` (deterministic pivot set). Vertices on no sampled
    shortest path (and the pivots' own endpoints-excluded zeros) publish
    0.0; values rounded to 6 decimals."""
    spark = edges.sparkSession
    p = local_parallelism(spark)
    e = edges.select("src", "dst").repartition(p, "src").cache()
    e.count()

    src = np.asarray(list(dict.fromkeys(int(s) for s in sources)), dtype=np.int64)
    seeds = {"s": src, "v": src, "sigma": np.ones_like(src)}
    level0, _ = step(_local_frame(spark, seeds, "s long, v long, sigma long"))
    levels = [level0]
    # the forward levels are kept: they are the backward phase's schedule
    _release(
        expand(
            "betweenness_sources",
            int(max_depth),
            level0.select("s", "v"),
            lambda prev, _: prev.join(e, e.src == prev.v)
            .select("s", F.col("dst").alias("v"), "sigma")
            .groupBy("s", "v")
            .agg(F.sum("sigma").alias("sigma")),
            keys=("s", "v"),
            levels=levels,
            on_cap="return",
        )
    )

    # backward sweep: deepest level has no successors -> delta 0. The
    # successor state carries (sigma, delta) in ONE frame, so each level
    # pays a single (s, w)-keyed join against it instead of two.
    # each level is freed once its delta is checkpointed; the deltas stay,
    # the result reads them all
    deltas = [None] * len(levels)
    deltas[-1], _ = step(
        levels[-1].select("s", "v", "sigma", F.lit(0.0).alias("delta")),
        release=(levels[-1],),
    )
    for t in range(len(levels) - 2, -1, -1):
        cur, succ_sd = levels[t], deltas[t + 1]
        contrib = (
            cur.join(e, e.src == cur.v)
            .select("s", "v", "sigma", F.col("dst").alias("w"))
            .join(
                succ_sd.select(
                    "s",
                    F.col("v").alias("w"),
                    F.col("sigma").alias("wsig"),
                    F.col("delta").alias("wdelta"),
                ),
                on=["s", "w"],
            )
            .groupBy("s", "v")
            .agg(
                F.sum(
                    (F.col("sigma").cast("double") / F.col("wsig"))
                    * (F.lit(1.0) + F.col("wdelta"))
                ).alias("delta")
            )
        )
        deltas[t], _ = step(
            cur.select("s", "v", "sigma")
            .join(contrib, on=["s", "v"], how="left")
            .select(
                "s", "v", "sigma", F.coalesce("delta", F.lit(0.0)).alias("delta")
            ),
            release=(cur,),
        )

    bc = (
        reduce(DataFrame.unionAll, deltas)
        .where(F.col("v") != F.col("s"))
        .groupBy("v")
        .agg(F.sum("delta").alias("bc"))
    )
    out = (
        vertices.join(bc, on="v", how="left")
        .select(
            "v",
            F.round(F.coalesce(F.col("bc"), F.lit(0.0)), 6).alias(
                "betweenness"
            ),
        )
    )
    e.unpersist()
    return out
