"""HyperANF: sketch-based neighborhood function / effective diameter.

Boldi, Rosa & Vigna, "HyperANF: approximating the neighbourhood function
of very large graphs on a budget" (WWW 2011) — the public method behind
every published web-graph diameter number at 10^9+ vertices (it is how
the "four degrees of separation" Facebook measurement was run). The
neighbourhood function N(h) = #(ordered pairs (u,v) with dist(u,v) <= h)
is exactly what a crawl operator asks of a link graph ("how far is the
frontier from the seed mass?"), and the effective diameter (smallest h
with N(h) >= q*N(inf)) is its standard summary.

Exact N(h) is an all-pairs BFS — O(n*m), dead at web scale. HyperANF
keeps ONE HyperLogLog counter per vertex estimating |ball(v, h)| and
exploits that HLL registers merge by element-wise max:

    ball(v, 0) = {v};  ball(v, h) = {v} UNION ball(w, h-1) for v->w

so one round = one edge join + a per-src element-wise-max aggregate —
the same bounded-shuffle shape as one PageRank iteration, with counter
size (m registers of ~5 bits) replacing the rank double. This is the
same linear-sketch philosophy as the engine's AGM/l0 connectivity core:
per-vertex state mergeable under the graph's natural message pattern.

Determinism: register initialization uses Spark's built-in xxhash64 on
the vertex id (fixed seed), so the whole run — estimates included — is a
pure function of the edge set; every value is reproducible across runs
and partitionings (max-merge is commutative/associative/idempotent).
The gate is rows-only all the same (no DuckDB xxhash64 twin), with
accuracy property-tested against exact BFS ball sizes instead.

Scale notes per round: one shuffle joining sketch state to the cached
dst-partitioned edge+SELF-LOOP relation, one aggregate on src (the
element-wise max compiles to m JVM max aggregates — no UDF, no explode);
the self-loop rows fold each vertex's own registers through the same
idempotent max-merge, so there is no separate state-merge join. Registers
are monotone non-decreasing, so the integer SUM of all registers is a
strictly-increasing-until-fixpoint convergence certificate (the kcore.py
trick); at the fixpoint N(h) = N(inf) exactly (the sketches stop
changing when every ball stops growing). Lineage is cut every round
(checkpoint.step, which frees the round it replaces).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from landscape_spark.checkpoint import _release, step
from landscape_spark.graph.cc import _local_frame


def _alpha(m: int) -> float:
    if m <= 16:
        return 0.673
    if m <= 32:
        return 0.697
    if m <= 64:
        return 0.709
    return 0.7213 / (1.0 + 1.079 / m)


def _init_registers(vertices: DataFrame, log2m: int, seed: int) -> DataFrame:
    """(v, regs): HLL of the singleton {v}. j = low log2m hash bits picks
    the register; its value is rho = 1 + leading-zero count of the
    remaining 64-log2m bits (the standard HLL insert)."""
    m = 1 << log2m
    h = F.xxhash64(F.col("v"), F.lit(seed))
    # low log2m bits -> register index (pmod: xxhash64 is signed 64-bit)
    j = F.pmod(h, F.lit(m))
    rest_bits = 64 - log2m
    w = F.shiftrightunsigned(h, log2m)
    # rho = 1 + #leading zeros of w within rest_bits; w == 0 -> rest_bits+1.
    # Found by locating the highest set bit with exact integer shifts —
    # floor(log2(double)) would be unsafe at 58-bit magnitudes. The
    # conditions are mutually exclusive (shiftrightunsigned(w, k) == 1
    # iff the highest set bit is exactly bit k), so chain order is free.
    rho = F.lit(rest_bits + 1)
    for b in range(rest_bits):
        rho = F.when(
            F.shiftrightunsigned(w, rest_bits - 1 - b) == 1, F.lit(b + 1)
        ).otherwise(rho)
    # compute (j, rho) once per row, then scatter into the register array
    jr = vertices.select("v", j.alias("_j"), rho.cast("int").alias("_rho"))
    regs = F.array(
        *[
            F.when(F.col("_j") == i, F.col("_rho")).otherwise(F.lit(0))
            for i in range(m)
        ]
    )
    return jr.select("v", regs.alias("regs"))


def _estimate_expr(m: int):
    """HLL cardinality estimate from the regs array (raw + small-range
    linear counting), as a Column expression."""
    alpha = _alpha(m)
    inv_sum = F.aggregate(
        F.col("regs"),
        F.lit(0.0),
        lambda acc, r: acc + F.pow(F.lit(2.0), -r.cast("double")),
    )
    raw = F.lit(alpha * m * m) / inv_sum
    zeros = F.aggregate(
        F.col("regs"),
        F.lit(0),
        lambda acc, r: acc + F.when(r == 0, 1).otherwise(0),
    )
    linear = F.lit(float(m)) * F.log(F.lit(float(m)) / zeros.cast("double"))
    return F.when((raw <= 2.5 * m) & (zeros > 0), linear).otherwise(raw)


def neighborhood_function(
    edges: DataFrame,
    vertices: DataFrame,
    max_h: int = 64,
    log2m: int = 6,
    seed: int = 42,
) -> DataFrame:
    """Return (h, n_pairs_est) for h = 0..H where H is the first round at
    which every sketch is stable (then N(H) = N(inf)) or max_h. n_pairs_est
    estimates #(ordered pairs within distance h), including (v, v).

    edges: directed distinct (src, dst); vertices: (v). log2m: registers
    per counter (m = 2^log2m; relative error ~ 1.04/sqrt(m) per ball).
    """
    from landscape_spark.session import local_parallelism

    spark = edges.sparkSession
    m = 1 << log2m
    reg_sum = F.aggregate(F.col("regs"), F.lit(0), lambda a, r: a + r)

    def _round_stats(st):
        # ONE job per round: the convergence certificate (integer register
        # sum) and the N(h) estimate ride the same aggregate
        row = st.select(
            F.sum(reg_sum).alias("cert"), F.sum(_estimate_expr(m)).alias("est")
        ).first()
        return row.cert, float(row.est)

    # SELF-LOOP union: ball(v,h) = ball(v,h-1) ∪ ⋃_{v->w} ball(w,h-1), and
    # max-merge is idempotent — so a (v,v) row folds the vertex's own
    # registers into the SAME aggregate as its neighbors', making each hop
    # ONE join + ONE aggregate instead of join + aggregate + n-row merge
    # join (bit-identical registers). The relation is cached partitioned on
    # the join key so per-hop only the state frame moves (guide §2.4).
    p = local_parallelism(spark)
    ep = (
        edges.select("src", "dst")
        .unionAll(vertices.select(F.col("v").alias("src"), F.col("v").alias("dst")))
        .repartition(p, "dst")
        .cache()
    )
    state, _ = step(_init_registers(vertices, log2m, seed))
    prev_cert, est0 = _round_stats(state)
    est = [est0]  # est[h] estimates N(h)
    elem_max = [
        F.max(F.element_at(F.col("regs"), i + 1)).alias(f"_m{i}") for i in range(m)
    ]
    for h in range(1, max_h + 1):
        state, _ = step(
            ep.join(state.withColumnRenamed("v", "dst"), on="dst")
            .groupBy(F.col("src").alias("v"))
            .agg(*elem_max)
            .select("v", F.array(*[F.col(f"_m{i}") for i in range(m)]).alias("regs")),
            release=(state,),
        )
        cert, est_h = _round_stats(state)
        est.append(est_h)
        if cert == prev_cert:
            # max-merge is idempotent: unchanged registers => every ball
            # is stable => N(h) = N(inf); drop the duplicate last row
            est.pop()
            break
        prev_cert = cert
    ep.unpersist()
    _release(state)
    h = np.arange(len(est), dtype=np.int32)
    n_pairs = np.asarray([round(x, 6) for x in est])
    return _local_frame(spark, {"h": h, "n_pairs_est": n_pairs}, "h int, n_pairs_est double")


def effective_diameter(
    edges: DataFrame,
    vertices: DataFrame,
    q: float = 0.9,
    max_h: int = 64,
    log2m: int = 6,
    seed: int = 42,
) -> DataFrame:
    """One row (effective_diameter, n_pairs_reachable_est): the smallest h
    with N(h) >= q * N(inf), with the standard linear interpolation
    between h-1 and h (Boldi-Vigna report interpolated values), and the
    estimated count of reachable ordered pairs."""
    nf = neighborhood_function(
        edges, vertices, max_h=max_h, log2m=log2m, seed=seed
    ).orderBy("h")
    rows = nf.collect()  # O(diameter) rows — driver-safe at any scale
    n_inf = rows[-1].n_pairs_est
    target = q * n_inf
    eff = float(rows[-1].h)
    for i, r in enumerate(rows):
        if r.n_pairs_est >= target:
            if i == 0:
                eff = 0.0
            else:
                lo = rows[i - 1].n_pairs_est
                eff = (i - 1) + (target - lo) / (r.n_pairs_est - lo)
            break
    spark = edges.sparkSession
    return spark.createDataFrame(
        [(round(eff, 6), round(n_inf, 6))],
        "effective_diameter double, n_pairs_reachable_est double",
    )


def harmonic_centrality(
    edges: DataFrame,
    vertices: DataFrame,
    max_h: int = 64,
    log2m: int = 6,
    seed: int = 42,
) -> DataFrame:
    """HyperBall harmonic centrality (Boldi & Vigna, "In-core computation
    of geometric centralities with HyperBall", ICDMW 2013 — the public
    method for per-vertex centrality at web scale): for each vertex v,

        H(v) = sum over u != v of 1 / d(u, v)

    (the incoming convention — how quickly the rest of the graph reaches
    v; the standard web-centrality orientation, computed by running the
    ball recursion on REVERSED edges, which this function does
    internally). Per hop h, each vertex's counter gains
    (|ball_in(v,h)| - |ball_in(v,h-1)|) new vertices at distance exactly
    h, each contributing 1/h — so the centrality accumulates from the
    SAME counter sequence HyperANF already computes; the marginal cost
    over neighborhood_function is one O(n) projection per hop.

    Returns (v, harmonic) with the estimate rounded to 6 decimals.
    Deterministic (same xxhash64 init + idempotent max-merge as
    neighborhood_function); the integer register sum is the exact
    fixpoint certificate, so the accumulation stops exactly when every
    in-ball is complete. Isolated / unreachable-from-everywhere vertices
    score ~0 (their ball never grows)."""
    from landscape_spark.session import local_parallelism

    m = 1 << log2m
    reg_sum = F.aggregate(F.col("regs"), F.lit(0), lambda a, r: a + r)
    est = _estimate_expr(m)
    # reversed edges + SELF-LOOPS, cached partitioned on the join key (the
    # neighborhood_function discipline): each hop is ONE join + ONE
    # aggregate — the self row both folds the vertex's own registers into
    # the max-merge (idempotent, bit-identical) and carries its running
    # (prev_est, hc) accumulator through the SAME aggregate, replacing the
    # old per-hop n-row merge join.
    p = local_parallelism(edges.sparkSession)
    ep = (
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        .unionAll(vertices.select(F.col("v").alias("src"), F.col("v").alias("dst")))
        .repartition(p, "dst")
        .cache()
    )
    # the fixpoint certificate (INTEGER register sum — exact under any task
    # merge order) rides each checkpoint action via observe(): no separate
    # per-hop certificate job. (neighborhood_function keeps its combined
    # cert+estimate job instead: the published estimate is a FLOAT sum, and
    # observe() merges task metrics in completion order, which would make
    # the published value run-order-dependent at the last ulp.)
    state, stats = step(
        _init_registers(vertices, log2m, seed).select(
            "v", "regs", est.alias("prev_est"), F.lit(0.0).alias("hc")
        ),
        s=F.sum(reg_sum),
    )
    prev_cert = stats["s"]
    elem_max = [
        F.max(F.element_at(F.col("regs"), i + 1)).alias(f"_m{i}") for i in range(m)
    ]
    self_row = F.col("dst") == F.col("src")
    for h in range(1, max_h + 1):
        merged = (
            ep.join(state.withColumnRenamed("v", "dst"), on="dst")
            .groupBy(F.col("src").alias("v"))
            .agg(
                *elem_max,
                # exactly one self row per group carries the accumulator
                F.max(F.when(self_row, F.col("prev_est"))).alias("prev_est"),
                F.max(F.when(self_row, F.col("hc"))).alias("hc"),
            )
            .select(
                "v",
                F.array(*[F.col(f"_m{i}") for i in range(m)]).alias("regs"),
                "prev_est",
                "hc",
            )
        )
        state, stats = step(
            merged.select(
                "v",
                "regs",
                est.alias("prev_est"),
                # ball growth at this hop, each new member at distance exactly h
                (
                    F.col("hc")
                    + F.greatest(est - F.col("prev_est"), F.lit(0.0)) / F.lit(float(h))
                ).alias("hc"),
            ),
            release=(state,),
            s=F.sum(reg_sum),
        )
        if stats["s"] == prev_cert:
            break
        prev_cert = stats["s"]
    ep.unpersist()
    return state.select("v", F.round("hc", 6).alias("harmonic"))
