"""spark-submit entry point for the multi-executor deploy (north rule).

The reference deploys by launching MPI ranks across hosts from a run script
(/root/reference/tools/run_experiments.sh:141-160 builds the hostfile and
mpirun invocation per cluster size); the Spark analog is spark-submit with
--py-files carrying the engine to every executor. The session comes from
spark-submit's cluster conf — this script never sets a master, so the SAME
artifact runs at N and 4N executors:

    python deploy/make_pyfiles.py
    spark-submit --py-files dist/landscape_spark.zip \
        --num-executors $N --executor-cores 4 \
        deploy/run_cluster.py --job ingest_cc --n 1048576 --m 16777216

    # sanity-check the packaged artifact without a cluster:
    spark-submit --master 'local[8]' --py-files dist/landscape_spark.zip \
        deploy/run_cluster.py --job ingest_cc --n 16384 --m 1048576

Jobs (each prints ONE JSON line to stdout — the bench.py contract):
  ingest_cc  — seeded SimpleStream edge stream -> distributed sketch build
               (updates/sec) -> Boruvka CC (components + query sec)
  pagerank   — derived link graph from --sf-dir documents -> PR iterations
  kforest    — k edge-disjoint spanning forests certificate

Scaling-efficiency protocol: run the same job at --num-executors N and 4N
and compare the printed rates (BENCH/BASELINE.md documents the local-mode
proxy used in this sandbox, where no real cluster exists).
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--job", choices=["ingest_cc", "pagerank", "kforest"], default="ingest_cc")
    ap.add_argument("--n", type=int, default=1 << 14, help="vertices (power of 2 for ingest)")
    ap.add_argument("--m", type=int, default=1 << 20, help="stream updates (ingest_cc)")
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    ap.add_argument("--iters", type=int, default=10)
    ap.add_argument("--k", type=int, default=2)
    ap.add_argument("--partitions", type=int, default=None,
                    help="shuffle partitions (default: spark.sql.shuffle.partitions)")
    args = ap.parse_args()

    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    # master/executors come from spark-submit; only engine-level conf here
    spark = (
        SparkSession.builder.appName(f"landscape_{args.job}")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("WARN")
    parts = args.partitions or int(spark.conf.get("spark.sql.shuffle.partitions", "200"))

    from landscape_spark import linkgraph

    out: dict = {"job": args.job, "partitions": parts}
    if args.job == "ingest_cc":
        from landscape_spark.sketch.boruvka import _cc_rounds
        from landscape_spark.sketch.build import build_group_slices
        from landscape_spark.sketch.l0 import SketchParams

        stream = linkgraph.synth_edge_stream(spark, args.n, args.m, seed=42).select(
            F.col("src").alias("a"), F.col("dst").alias("b")
        )
        m_updates = stream.count()
        params = SketchParams.for_graph(args.n, seed=42)
        t0 = time.time()
        slices = build_group_slices(stream, params, num_partitions=parts).persist()
        slices.count()
        ingest_sec = time.time() - t0
        t0 = time.time()
        vmap = _cc_rounds(spark, slices, None, params, 0, parts)
        n_comp = vmap.select("comp").distinct().count()
        out.update(
            updates=m_updates,
            ingest_sec=round(ingest_sec, 3),
            rate=round(m_updates / ingest_sec, 1),
            cc_sec=round(time.time() - t0, 3),
            n_components=n_comp,
        )
    elif args.job == "pagerank":
        from landscape_spark.graph.pagerank import pagerank

        n = linkgraph.num_vertices(spark, args.sf_dir)
        e = linkgraph.directed_edges(spark, args.sf_dir).cache()
        e.count()
        verts = linkgraph.vertices(spark, args.sf_dir)
        t0 = time.time()
        pagerank(e, verts, n, iters=args.iters).count()
        sec = time.time() - t0
        out.update(n_vertices=n, iters=args.iters, sec=round(sec, 3),
                   iter_sec=round(sec / args.iters, 3))
    else:  # kforest
        from landscape_spark.sketch.boruvka import k_spanning_forests

        n = linkgraph.num_vertices(spark, args.sf_dir)
        e = linkgraph.undirected_edges(spark, args.sf_dir).cache()
        e.count()
        t0 = time.time()
        cnt = k_spanning_forests(spark, e, n, k=args.k, seed=42, num_partitions=parts).count()
        out.update(n_vertices=n, k=args.k, forest_edges=cnt, sec=round(time.time() - t0, 3))

    spark.stop()
    print(json.dumps(out))
    sys.stdout.flush()


if __name__ == "__main__":
    main()
