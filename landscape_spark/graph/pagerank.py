"""PageRank — power iteration with damping and dangling-mass redistribution.

North-rule addition (not in the reference engine, which is connectivity-only;
required by BASELINE.json north_rule). Semantics fixed so the DuckDB oracle
can reproduce them bit-for-bit up to float-summation order:

    r_0(v)   = 1/N
    r_t+1(v) = (1-d)/N + d * ( sum_{u->v} r_t(u)/outdeg(u) + dangling_t/N )
    dangling_t = sum of r_t(u) over u with outdeg(u) = 0

Scale design: edges join ranks on src (sort-merge at scale; AQE handles hub
skew via skew-join splitting), groupBy dst partial+final aggregation
(map-side combine is automatic for F.sum). The (src, dst, out_deg) relation
is joined ONCE up front, repartitioned by src and cached, so its shuffle is
paid once and the per-iteration join reuses the cached partitioning. The
dangling-vertex SET is static across iterations, so it is computed once and
carried as a boolean column of the rank table — the dangling mass is then a
plain filtered aggregate of the checkpointed ranks (a 1-row broadcast), with
NO per-iteration O(n) join or broadcast anywhere in the loop (at 10^9
vertices a per-iteration vertex-set broadcast is a driver OOM). Each
LINEAGE BATCH (lineage_every iterations; 1 on work-bound graphs) is one
eager job (a checkpoint.step) containing one shuffle per iteration (the
contrib groupBy); the previous batch's checkpoint is freed once nothing
reads it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from landscape_spark.checkpoint import _release, step
from landscape_spark.session import local_parallelism


def pagerank(
    edges: DataFrame,
    vertices: DataFrame,
    n_vertices: int,
    iters: int = 20,
    damping: float = 0.85,
    tol: float | None = None,
    checkpoint_dir: str | None = None,
    checkpoint_every: int = 5,
    start_ranks: DataFrame | None = None,
    start_iter: int = 0,
    lineage_every: int | None = None,
    weight_col: str | None = None,
) -> DataFrame:
    """Return (v, pr_score) after ``iters`` synchronous power iterations
    (or earlier if ``tol`` given and max |delta| < tol).

    edges: directed distinct (src, dst). vertices: (v), dense 0..N-1.

    ``weight_col``: name of a POSITIVE edge-weight column on ``edges``
    (link multiplicity, anchor quality, ...). Each vertex then splits its
    rank proportionally to weight — contribution r(src)·w/W(src) with
    W(src) the total outgoing weight — instead of uniformly 1/out_deg.
    Weights must be > 0 (a zero-total source would divide by zero; with
    all weights positive the dangling set is identical to the unweighted
    one). None keeps the exact unweighted plan — same arithmetic, same
    shuffle count; the weighted variant adds only the weight column to
    the cached edge relation.

    checkpoint_dir enables durable per-iteration checkpoints (north rule:
    resumable from checkpoint with per-partition lineage + metrics): every
    ``checkpoint_every`` iterations the rank table lands as parquet plus a
    lineage JSON via checkpoint.RoundCheckpointer. ``resume_pagerank``
    restarts from the latest saved iteration; ``start_ranks``/``start_iter``
    are its hooks (a caller-provided rank table with columns
    (v, r, is_dang) and the iteration it corresponds to).

    ``lineage_every``: cut lineage with an eager action only every B
    iterations (values are identical for any B; the last iteration always
    materializes). Default None auto-selects: B=2 when the edge relation is
    small enough that per-iteration driver fixed costs dominate (measured
    best-of-5 3.45s -> 3.04s per 10 iters on the 60k-edge sf0.1 graph),
    B=1 otherwise — on work-bound graphs the lazy batch re-executes the
    doubly-referenced rank sub-plan (the dangling scan is a broadcast
    subquery AQE does not exchange-dedup against the main plan) and
    measures ~10-15% WORSE at 8M edges, consistent with the round-3
    chain-rejection record in BENCH/BASELINE.md. Forced to 1 when ``tol``
    is set (the convergence check materializes every iteration anyway);
    with ``checkpoint_dir`` use a B that divides checkpoint_every or the
    durable save will recompute the tail since the last cut. Caller values
    are CLAMPED to <= 4: every un-cut iteration references the previous
    lazy rank plan twice, so the logical plan grows ~2^B between cuts and
    a large B blows up Catalyst analysis time exponentially even though
    values stay correct.
    """
    n = float(n_vertices)
    spark = edges.sparkSession
    num_part = local_parallelism(spark)
    if weight_col is None:
        deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("out_deg"))
        ew_cols = ["src", "dst", "out_deg"]
    else:
        deg = edges.groupBy("src").agg(
            F.sum(F.col(weight_col).cast("double")).alias("out_deg")
        )
        edges = edges.withColumn("_w", F.col(weight_col).cast("double"))
        ew_cols = ["src", "dst", "_w", "out_deg"]
    ew = (
        edges.join(deg, on="src")
        .select(*ew_cols)
        .repartition(num_part, "src")
        .cache()
    )
    n_edges = ew.count()  # materialize once; every iteration reuses this partitioning

    # static dangling flag: outdeg(v) = 0. Computed ONCE, carried through the
    # rank table so the per-iteration dangling mass is a filtered sum of
    # ranks — never a join against a vertex-sized side.
    vstate, _ = step(
        vertices.join(
            deg.select(F.col("src").alias("v"), F.lit(True).alias("_o")),
            on="v",
            how="left",
        ).select("v", F.col("_o").isNull().alias("is_dang"))
    )
    if start_ranks is not None:
        ranks, _ = step(start_ranks.select("v", "r", "is_dang"))
    else:
        ranks, _ = step(vstate.select("v", F.lit(1.0 / n).alias("r"), "is_dang"))
    # the checkpoint the lazy rank chain starts from, freed at the next cut
    base = ranks

    ckpt = None
    if checkpoint_dir is not None:
        from landscape_spark.checkpoint import RoundCheckpointer

        ckpt = RoundCheckpointer(spark, checkpoint_dir, "pagerank")

    import time as _time

    if lineage_every is None:
        # driver-overhead-bound regime (sub-second iterations): batch 2
        # iterations per action; work-bound regime: cut every iteration.
        # With durable checkpoints the auto path stays at 1 — a batch size
        # that doesn't divide checkpoint_every would make every parquet
        # save re-execute the uncut tail (the docstring's own warning).
        lineage_every = (
            2 if (n_edges < 1_000_000 and checkpoint_dir is None) else 1
        )
    if tol is not None:
        lineage_every = 1
    # clamp: each un-cut iteration references the previous lazy rank plan
    # TWICE (contrib join + dangling scan), so the logical plan grows ~2^B
    # between cuts — B=10 would hand Catalyst a ~1000-node plan per
    # analysis pass (values stay correct; optimizer time explodes). The
    # auto path caps B at 2; caller-supplied values clamp to 4.
    lineage_every = max(1, min(int(lineage_every), 4))

    share = (
        F.col("r") / F.col("out_deg")
        if weight_col is None
        else F.col("r") * F.col("_w") / F.col("out_deg")
    )
    for _it in range(start_iter, iters):
        contrib = (
            ew.join(ranks, ew.src == ranks.v)
            .select(F.col("dst").alias("v"), share.alias("c"))
            .groupBy("v")
            .agg(F.sum("c").alias("c"))
        )
        # dangling mass as a 1-row DF folded into the plan (no driver
        # collect; this side is a scan of the previous rank state — no
        # join, no O(n) exchange. On lineage-batched iterations the scan's
        # sub-plan shares its exchanges with the main side, so the work
        # still happens once per iteration.)
        dangling_df = ranks.where("is_dang").agg(
            F.coalesce(F.sum("r"), F.lit(0.0)).alias("_dang")
        )
        new_ranks = (
            vstate.join(contrib, on="v", how="left")
            .crossJoin(F.broadcast(dangling_df))
            .select(
                "v",
                (
                    F.lit((1.0 - damping) / n)
                    + F.lit(damping)
                    * (F.coalesce(F.col("c"), F.lit(0.0)) + F.col("_dang") / F.lit(n))
                ).alias("r"),
                "is_dang",
            )
        )
        # lineage cut: an EAGER action only every lineage_every iterations
        # (and always on the last) — intermediate iterations stay lazy, so
        # a batch of B iterations is ONE Spark action whose B contrib
        # exchanges each execute once (exchange reuse inside the action
        # dedups the dangling sub-plans). Cuts per-iteration driver
        # scheduling + block-materialization fixed costs ~B-fold at small
        # inputs without changing any value.
        cut = (_it + 1 - start_iter) % lineage_every == 0 or _it == iters - 1
        if cut:
            new_ranks, _ = step(new_ranks)
        delta = None
        if tol is not None:
            delta = (
                new_ranks.join(
                    ranks.select("v", F.col("r").alias("r_old")), on="v"
                )
                .agg(F.max(F.abs(F.col("r") - F.col("r_old"))))
                .first()[0]
            )
        if cut:
            # nothing reads the previous cut any more (the delta above did)
            _release(base)
            base = new_ranks
        ranks = new_ranks
        if delta is not None and delta < tol:
            break
        if ckpt is not None and (_it + 1) % checkpoint_every == 0:
            _t0 = _time.time()
            ckpt.save_round(
                _it + 1,
                {"ranks": ranks},
                state={
                    "iteration": _it + 1,
                    "iters_total": iters,
                    "n_vertices": n_vertices,
                    "damping": damping,
                },
                metrics={"iter_wall_ts": _t0},
            )
    ew.unpersist()
    _release(vstate)  # ranks is a checkpoint here (every exit is a cut)
    return ranks.select("v", F.col("r").alias("pr_score"))


def resume_pagerank(
    edges: DataFrame,
    vertices: DataFrame,
    n_vertices: int,
    checkpoint_dir: str,
    iters: int = 20,
    damping: float = 0.85,
    checkpoint_every: int = 5,
) -> DataFrame:
    """Continue PageRank from the latest durable checkpoint under
    ``checkpoint_dir`` (written by pagerank(..., checkpoint_dir=...)); the
    remaining iterations produce results identical to an uninterrupted run
    because the saved rank table is the loop's entire cross-iteration
    state. Raises if no checkpoint exists."""
    from landscape_spark.checkpoint import RoundCheckpointer

    spark = edges.sparkSession
    ckpt = RoundCheckpointer(spark, checkpoint_dir, "pagerank")
    latest = ckpt.latest_round()
    if latest is None:
        raise ValueError(f"no pagerank checkpoint under {checkpoint_dir}")
    dfs, lineage = ckpt.load_round(latest)
    return pagerank(
        edges,
        vertices,
        n_vertices,
        iters=iters,
        damping=lineage["state"].get("damping", damping),
        checkpoint_dir=checkpoint_dir,
        checkpoint_every=checkpoint_every,
        start_ranks=dfs["ranks"],
        start_iter=int(lineage["state"]["iteration"]),
    )


def personalized_pagerank(
    edges: DataFrame,
    vertices: DataFrame,
    n_vertices: int,
    seeds: list[int],
    iters: int = 20,
    damping: float = 0.85,
) -> DataFrame:
    """Personalized PageRank: teleport (and dangling mass) land on the seed
    set instead of uniformly. Semantics fixed for the DuckDB oracle:

        p(v)     = 1/|S| for v in S, else 0
        r_0      = p
        r_t+1(v) = (1-d)*p(v) + d*( sum_{u->v} r_t(u)/outdeg(u)
                                    + dangling_t * p(v) )

    r_t sums to 1 at every t. Same scale design as pagerank(): the edge
    relation is joined to out-degrees once, repartitioned by src and cached;
    each iteration is one contrib shuffle plus a 1-row dangling broadcast;
    the static teleport weight is carried as a column of the rank table, so
    there is no per-iteration join against a vertex-sized side. Lineage is
    cut every iteration (the rank table is referenced twice per step).

    seeds must be a small driver-side list (a personalization set, not a
    vertex partition) — it folds into the plan as an isin literal.
    """
    if not seeds:
        raise ValueError("personalized_pagerank needs a non-empty seed set")
    n_part = local_parallelism(edges.sparkSession)
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("out_deg"))
    ew = (
        edges.join(deg, on="src")
        .select("src", "dst", "out_deg")
        .repartition(n_part, "src")
        .cache()
    )
    ew.count()

    p_col = F.when(
        F.col("v").isin([int(s) for s in seeds]), F.lit(1.0 / len(seeds))
    ).otherwise(F.lit(0.0))
    vstate, _ = step(
        vertices.join(
            deg.select(F.col("src").alias("v"), F.lit(True).alias("_o")),
            on="v",
            how="left",
        ).select("v", p_col.alias("p"), F.col("_o").isNull().alias("is_dang"))
    )
    ranks, _ = step(vstate.select("v", F.col("p").alias("r"), "p", "is_dang"))

    for _ in range(iters):
        contrib = (
            ew.join(ranks, ew.src == ranks.v)
            .select(F.col("dst").alias("v"), (F.col("r") / F.col("out_deg")).alias("c"))
            .groupBy("v")
            .agg(F.sum("c").alias("c"))
        )
        dangling_df = ranks.where("is_dang").agg(
            F.coalesce(F.sum("r"), F.lit(0.0)).alias("_dang")
        )
        ranks, _ = step(
            vstate.join(contrib, on="v", how="left")
            .crossJoin(F.broadcast(dangling_df))
            .select(
                "v",
                (
                    F.lit(1.0 - damping) * F.col("p")
                    + F.lit(damping)
                    * (
                        F.coalesce(F.col("c"), F.lit(0.0))
                        + F.col("_dang") * F.col("p")
                    )
                ).alias("r"),
                "p",
                "is_dang",
            ),
            release=(ranks,),
        )
    ew.unpersist()
    _release(vstate)
    return ranks.select("v", F.col("r").alias("ppr_score"))
