"""Katz centrality — damped walk-count power iteration on the directed graph.

Link-graph analysis operator in the PageRank/HITS class (the reference
engine is connectivity-only; this belongs to the webtext/link-graph axes,
like graph/pagerank.py). Katz (1953) scores a page by the attenuated
number of walks ENDING at it:

    x_0(v) = beta
    x_t(v) = beta + alpha * sum_{u->v} x_{t-1}(u)

i.e. x = sum_k (alpha * A^T)^k * beta — unlike PageRank no out-degree
normalization, so a page endorsed by a prolific linker gets the full
attenuated credit per link. Convergent for alpha < 1/lambda_max(A); the
gate runs a FIXED iteration count so the oracle reproduces the exact
partial sum regardless.

Plan shape mirrors pagerank.py's join path:
* the edge relation is repartitioned by src + cached once; each
  iteration is one hash join (scores shuffled to the cached edge
  partitioning) + one map-side-combined groupBy(dst) + a left join onto
  the vertex frame — one real shuffle per iteration, no vertex-sized
  broadcast, no driver-side state;
* lineage is cut with one checkpoint.step per iteration, which frees the
  iteration it replaces (the score frame is referenced once per step, so
  plan growth is linear, but 10+ chained joins still deserve a cut — same
  discipline as HITS).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from landscape_spark.checkpoint import step
from landscape_spark.session import local_parallelism


def katz_centrality(
    edges: DataFrame,
    vertices: DataFrame,
    iters: int = 10,
    alpha: float = 0.005,
    beta: float = 1.0,
) -> DataFrame:
    """Return (v, katz) after ``iters`` iterations of the Katz recurrence.

    edges: directed distinct (src, dst); vertices: (v). Isolated / no-in-link
    vertices converge to exactly ``beta``.
    """
    spark = edges.sparkSession
    p = local_parallelism(spark)
    e = edges.select("src", "dst").repartition(p, "src").cache()
    e.count()

    x, _ = step(vertices.select("v", F.lit(float(beta)).alias("x")))
    for _ in range(iters):
        contrib = (
            e.join(x, e.src == x.v)
            .select(F.col("dst").alias("v"), F.col("x").alias("c"))
            .groupBy("v")
            .agg(F.sum("c").alias("c"))
        )
        x, _ = step(
            vertices.join(contrib, on="v", how="left").select(
                "v",
                (
                    F.lit(float(beta))
                    + F.lit(float(alpha)) * F.coalesce(F.col("c"), F.lit(0.0))
                ).alias("x"),
            ),
            release=(x,),
        )
    e.unpersist()
    return x.select("v", F.col("x").alias("katz"))


def eigenvector_centrality(
    edges: DataFrame,
    vertices: DataFrame,
    n_vertices: int,
    iters: int = 10,
) -> DataFrame:
    """(v, eigen): L1-normalized power iteration on A^T — the alpha→1/λ
    limit of Katz without the additive floor, i.e. HITS's authority
    half-step iterated on the plain link matrix. L1 (sum) normalization
    instead of L2 for the same reason as hits.py: the norm folds into the
    oracle as a plain SUM, no libm sqrt. A graph whose every in-score
    sums to zero mass (no edges) yields all-zero scores via the norm
    guard. Same plan discipline as katz_centrality: cached src-
    partitioned edges, one shuffle per iteration, 1-row broadcast norm."""
    spark = edges.sparkSession
    p = local_parallelism(spark)
    e = edges.select("src", "dst").repartition(p, "src").cache()
    e.count()
    x, _ = step(vertices.select("v", F.lit(1.0 / float(n_vertices)).alias("x")))
    for _ in range(iters):
        # checkpoint the RAW aggregate BEFORE the norm (the hits.py fix):
        # the 1-row norm is a broadcast scalar subquery Catalyst does not
        # exchange-dedup against the main side, so an un-cut raw would run
        # its join+aggregate twice per iteration. Vertices missing from raw
        # hold score exactly 0.0 and contribute nothing to the next join —
        # the O(n) vertex left-join happens once, below the loop.
        raw, _ = step(
            e.join(x, e.src == x.v)
            .select(F.col("dst").alias("v"), F.col("x").alias("c"))
            .groupBy("v")
            .agg(F.sum("c").alias("c")),
            release=(x,),
        )
        norm = raw.agg(F.coalesce(F.sum("c"), F.lit(0.0)).alias("_n"))
        x = raw.crossJoin(F.broadcast(norm)).select(
            "v",
            F.when(F.col("_n") > 0, F.col("c") / F.col("_n"))
            .otherwise(F.lit(0.0))
            .alias("x"),
        )
    out = vertices.join(x, on="v", how="left").select(
        "v", F.coalesce(F.col("x"), F.lit(0.0)).alias("eigen")
    )
    e.unpersist()
    return out
