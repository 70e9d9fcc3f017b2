"""Reference-shaped experiment surface: `python -m landscape_spark.experiments`.

The reference drives four experiment binaries from its run scripts
(/root/reference/tools/run_experiments.sh); a Landscape user switching to
this engine gets the same four experiments over the same knobs, each
printing one CSV-ish record per run like the reference's appended CSVs:

  speed     stream-ingest rate + CC query latency
            (experiment/cluster_speed_expr.cpp:104 — "ins_per_sec, CC query
            latency" appended per run)
  query     breakpointed in-stream query bursts with the flush-vs-algorithm
            latency split (experiment/cluster_query_expr.cpp:286-294)
  kconnect  k-spanning-forests sweep with max-RSS per k
            (experiment/cluster_k_connect_expr.cpp:124; k sweep
            tools/run_experiments.sh:208-215)
  census    sketch failure census — runs x samples failure counting
            (experiment/cont_expr.cpp:34-43,60-66)

All inputs are seeded synthetic streams (the reference replays pre-built
binary streams; no external data). Usage:

  python -m landscape_spark.experiments speed    [--n 16384] [--m 4194304]
  python -m landscape_spark.experiments query    [--n 4096] [--m 262144] [--bursts 6]
  python -m landscape_spark.experiments kconnect [--n 4096] [--m 262144] [--ks 1,2,4]
  python -m landscape_spark.experiments census   [--n 1024] [--seeds 10]
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def _spark(cpus: int):
    from landscape_spark.session import get_spark

    return get_spark("landscape_experiments", master=f"local[{cpus}]")


def exp_speed(args) -> dict:
    from pyspark.sql import functions as F

    from landscape_spark import linkgraph
    from landscape_spark.session import local_parallelism
    from landscape_spark.sketch.boruvka import _cc_rounds
    from landscape_spark.sketch.build import build_group_slices
    from landscape_spark.sketch.l0 import SketchParams

    spark = _spark(args.cpus)
    stream = linkgraph.synth_edge_stream(spark, args.n, args.m, seed=args.seed).select(
        F.col("src").alias("a"), F.col("dst").alias("b")
    )
    m_upd = stream.count()
    params = SketchParams.for_graph(args.n, seed=args.seed)
    parts = local_parallelism(spark)
    best, sk = float("inf"), None
    for _ in range(args.reps):
        if sk is not None:
            sk.unpersist(blocking=True)
        t0 = time.time()
        sk = build_group_slices(stream, params, parts).persist()
        sk.count()
        best = min(best, time.time() - t0)
    t0 = time.time()
    vmap = _cc_rounds(spark, sk, None, params, 0, parts)
    ncomp = vmap.select("comp").distinct().count()
    cc_sec = time.time() - t0
    return {"experiment": "speed", "n": args.n, "updates": m_upd,
            "ins_per_sec": round(m_upd / best, 1), "ingest_sec": round(best, 3),
            "cc_query_sec": round(cc_sec, 3), "n_components": ncomp}


def exp_query(args) -> dict:
    from pyspark.sql import functions as F

    from landscape_spark import linkgraph
    from landscape_spark.session import local_parallelism
    from landscape_spark.sketch.l0 import SketchParams
    from landscape_spark.streaming.ingest import (
        SketchStreamIngestor,
        replay_with_breakpoints,
    )
    import tempfile

    spark = _spark(args.cpus)
    upd = (
        linkgraph.synth_edge_stream(spark, args.n, args.m, seed=args.seed)
        .select(F.col("src").alias("a"), F.col("dst").alias("b"))
        .withColumn("upd_idx", F.monotonically_increasing_id())
        .localCheckpoint(eager=True)
    )
    m_upd = upd.count()
    step = max(1, m_upd // args.bursts)
    breakpoints = [step * (i + 1) for i in range(args.bursts)]
    params = SketchParams.for_graph(args.n, seed=args.seed)
    ing = SketchStreamIngestor(
        spark, params, tempfile.mkdtemp(prefix="lsq_"), local_parallelism(spark)
    )
    pairs = spark.createDataFrame(
        [(i, (i + 1) % args.n) for i in range(0, args.qpairs * 2, 2)], "a long, b long"
    )
    recs = replay_with_breakpoints(spark, upd, breakpoints, ing, burst_pairs=pairs)
    return {"experiment": "query", "n": args.n, "updates": m_upd,
            "bursts": recs}


def exp_kconnect(args) -> dict:
    from pyspark.sql import functions as F

    from landscape_spark import linkgraph
    from landscape_spark.metrics import PeakRssSampler
    from landscape_spark.session import local_parallelism
    from landscape_spark.sketch.boruvka import k_spanning_forests

    spark = _spark(args.cpus)
    edges = (
        linkgraph.synth_edge_stream(spark, args.n, args.m, seed=args.seed)
        .select(F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    rows = []
    for k in args.ks:
        with PeakRssSampler(interval=0.2) as rss:
            t0 = time.time()
            nf = k_spanning_forests(spark, edges, args.n, k=k, seed=args.seed,
                                    num_partitions=local_parallelism(spark)).count()
            sec = time.time() - t0
        rows.append({"k": k, "forest_edges": nf, "sec": round(sec, 3),
                     "max_rss_mib": round(rss.peak_mib, 1)})
    return {"experiment": "kconnect", "n": args.n, "edges": edges.count(),
            "runs": rows}


def exp_census(args) -> dict:
    from landscape_spark.sketch.census import run_census

    results = run_census(n=args.n, n_seeds=args.seeds)
    return {"experiment": "census", "n": args.n,
            "results": [r.as_dict() for r in results]}


def main(argv: list[str] | None = None) -> None:
    p = argparse.ArgumentParser(prog="landscape_spark.experiments")
    sub = p.add_subparsers(dest="cmd", required=True)
    common = dict(cpus=("--cpus", 8), seed=("--seed", 42))

    sp = sub.add_parser("speed")
    sp.add_argument("--n", type=int, default=1 << 14)
    sp.add_argument("--m", type=int, default=1 << 22)
    sp.add_argument("--reps", type=int, default=3)
    qp = sub.add_parser("query")
    qp.add_argument("--n", type=int, default=1 << 12)
    qp.add_argument("--m", type=int, default=1 << 18)
    qp.add_argument("--bursts", type=int, default=6)
    qp.add_argument("--qpairs", type=int, default=10)
    kp = sub.add_parser("kconnect")
    kp.add_argument("--n", type=int, default=1 << 12)
    kp.add_argument("--m", type=int, default=1 << 18)
    kp.add_argument("--ks", type=lambda s: [int(x) for x in s.split(",")],
                    default=[1, 2, 4])
    cp = sub.add_parser("census")
    cp.add_argument("--n", type=int, default=1024)
    cp.add_argument("--seeds", type=int, default=10)
    for s in (sp, qp, kp, cp):
        for name, (flag, dflt) in common.items():
            s.add_argument(flag, dest=name, type=int, default=dflt)

    args = p.parse_args(argv)
    fn = {"speed": exp_speed, "query": exp_query,
          "kconnect": exp_kconnect, "census": exp_census}[args.cmd]
    print(json.dumps(fn(args)))


if __name__ == "__main__":
    main()
