"""SALSA — Stochastic Approach for Link-Structure Analysis.

Lempel & Moran (WWW 2000): HITS's mutual reinforcement replaced by two
random walks on the bipartite hub/authority view of the link graph — the
algorithm behind large-scale who-to-follow / related-page systems
(Gupta et al., WWW 2013 run it at full social-graph scale). Authority
walk step: from authority j step BACK to a uniform in-linking hub, then
FORWARD to a uniform out-link of that hub:

    b_t(i)   = sum_{j : i->j} a_t(j) / indeg(j)
    a_{t+1}(k) = sum_{i : i->k} b_t(i) / outdeg(i)

and symmetrically for hub scores on the reversed walk. Both walks
CONSERVE mass exactly (each half-step redistributes scores through a
stochastic matrix), so no per-iteration normalization is needed — the
fixed-iteration partial sums are reproduced by the unrolled SQL oracle
bit-for-bit up to float-summation order. Initial mass is uniform over
the walkable side (authorities = vertices with in-links, hubs = vertices
with out-links); unreachable vertices hold score 0.

Plan discipline mirrors graph/hits.py: the degree-decorated edge
relation is repartitioned + cached once per orientation (each copy
pruned to the 3 columns its half-steps read), so every half-step is one
hash join against a cached partitioning + one map-side-combined
aggregate (one real shuffle), no vertex-sized broadcast, lineage cut per
iteration (checkpoint.step, which frees the iteration it replaces) —
and the two independent walks run as overlapped concurrent jobs (guide
§2.6) so one walk's straggler tail back-fills with the other's tasks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from landscape_spark.checkpoint import step
from landscape_spark.session import local_parallelism


def salsa(
    edges: DataFrame,
    vertices: DataFrame,
    iters: int = 10,
) -> DataFrame:
    """Return (v, authority, hub) after ``iters`` full SALSA walk steps.

    edges: directed distinct (src, dst); vertices: (v)."""
    from concurrent.futures import ThreadPoolExecutor

    spark = edges.sparkSession
    p = local_parallelism(spark)
    indeg = edges.groupBy("dst").agg(F.count(F.lit(1)).alias("indeg"))
    outdeg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg"))
    ew = edges.join(indeg, on="dst").join(outdeg, on="src")
    # TWO orientation-pruned cached copies (the hits.py discipline): every
    # half-step's join key then matches the big side's cached partitioning,
    # so only the vertex-sized score frame shuffles per half-step — the
    # single src-partitioned copy forced a full edge re-shuffle on every
    # dst-keyed half-step (10 per walk). Each copy carries only the 3
    # columns its half-steps read (project before the exchange, guide §2.3).
    ew_dst = ew.select("dst", "src", "indeg").repartition(p, "dst").cache()
    ew_src = ew.select("src", "dst", "outdeg").repartition(p, "src").cache()
    ew_dst.count()
    ew_src.count()

    def _walk(score_e, score_key: str, back_e, back_key: str,
              back_deg: str, fwd_deg: str):
        """One conserved two-hop walk iterated ``iters`` times; returns the
        final score frame (v, s) over the walkable side. score_e is
        partitioned on score_key, back_e on back_key."""
        side = score_e.select(F.col(score_key).alias("v")).distinct()
        n_side = side.count()
        s, _ = step(side.select("v", F.lit(1.0 / float(n_side)).alias("s")))
        for _ in range(iters):
            back = (
                score_e.join(s, score_e[score_key] == s.v)
                .select(
                    F.col(back_key).alias("u"),
                    (F.col("s") / F.col(back_deg)).alias("c"),
                )
                .groupBy("u")
                .agg(F.sum("c").alias("b"))
            )
            s, _ = step(
                back_e.join(back, back_e[back_key] == back.u)
                .select(
                    F.col(score_key).alias("v"),
                    (F.col("b") / F.col(fwd_deg)).alias("c"),
                )
                .groupBy("v")
                .agg(F.sum("c").alias("s")),
                release=(s,),
            )
        return s

    # the two walks are independent: overlap them so the second walk's tasks
    # back-fill executors freed by the first walk's stragglers (guide §2.6;
    # job descriptions and results are per-thread, values unchanged)
    with ThreadPoolExecutor(max_workers=2) as pool:
        fut_auth = pool.submit(
            _walk, ew_dst, "dst", ew_src, "src", "indeg", "outdeg"
        )
        fut_hub = pool.submit(
            _walk, ew_src, "src", ew_dst, "dst", "outdeg", "indeg"
        )
        auth = fut_auth.result()
        hub = fut_hub.result()
    out = (
        vertices.join(auth.select("v", F.col("s").alias("authority")), on="v", how="left")
        .join(hub.select("v", F.col("s").alias("hub")), on="v", how="left")
        .select(
            "v",
            F.coalesce("authority", F.lit(0.0)).alias("authority"),
            F.coalesce("hub", F.lit(0.0)).alias("hub"),
        )
    )
    ew_dst.unpersist()
    ew_src.unpersist()
    return out
