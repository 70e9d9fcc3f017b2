"""One benchmark run of one workload, inside one Spark session.

Started by run.py in its own process group with the environment already
pinned. Writes every raw sample, check outcome and derived metric to
``<run dir>/result.json``; run.py prints the report.

Protocol of every workload: start the session, build the inputs from the
seed, run an explicit warm-up, then run a fixed number of timed cycles:
--seconds divided by the workload's cycle budget. The count does not
depend on the host's speed, so every run times the same operations on the
same states. Outputs are collected inside the timed calls and checked only
after the timed part.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import math
import os
import statistics
import sys
import time
import traceback
from collections import defaultdict
from pathlib import Path

import numpy as np

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))
sys.path.insert(0, str(Path(__file__).resolve().parent))

import checks  # noqa: E402

BURST_PAIRS = 100

# layer labels, in report order; each timed call runs under one of them
LABELS = (
    "build",
    "reach",
    "ingest.absorb",
    "ingest.query",
    "graph.cc",
)


def cpu_counters() -> tuple[int, int]:
    """(steal, total) jiffies from the aggregate cpu line of /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    # guest time is already counted in user/nice
    return vals[7] if len(vals) > 7 else 0, sum(vals[:8])


def source_digest() -> str:
    """sha256 over the program's sources: identifies the tree when the
    checkout carries no git metadata."""
    h = hashlib.sha256()
    for p in sorted((ROOT / "landscape_spark").rglob("*.py")):
        h.update(p.relative_to(ROOT).as_posix().encode())
        h.update(p.read_bytes())
    return h.hexdigest()[:16]


def git_revision() -> str | None:
    head = ROOT / ".git" / "HEAD"
    try:
        ref = head.read_text().strip()
        if ref.startswith("ref: "):
            return (ROOT / ".git" / ref[5:]).read_text().strip()
        return ref
    except OSError:
        return None


class Run:
    """Spark session plus the bookkeeping every workload shares: labelled,
    timed, failure-counted calls into the program."""

    def __init__(self, spark, seconds: float, run_dir: Path, rss) -> None:
        self.spark = spark
        self.rss = rss
        self.sc = spark.sparkContext
        self.seconds = seconds
        self.run_dir = run_dir
        self.prepare_s = 0.0
        self.warmup_s = 0.0
        self.timed_end = 0.0
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.samples: dict[str, list[float]] = defaultdict(list)
        self.warm: dict[str, list[float]] = defaultdict(list)
        self.cycles: list[float] = []
        self.cycle_peak_mib: list[float] = []
        self.persisted: list[int] = []

    def setup(self, prepare):
        """Build the inputs once, under the job description ``setup``."""
        self.sc.setJobDescription("setup")
        t0 = time.perf_counter()
        out = prepare()
        self.prepare_s = time.perf_counter() - t0
        self.sc.setJobDescription(None)
        return out

    def timed_cycles(self, cycle_budget_s: float) -> int:
        """Number of timed cycles: --seconds over the workload's cycle budget
        (about one cycle on a 4-vCPU VM), rounded, at least one."""
        return max(1, round(self.seconds / cycle_budget_s))

    def call(self, label: str, fn, timed: bool = True):
        """Run one operation under job description ``label`` (warm-up calls
        get a ``warmup/`` prefix and are never samples). Returns (result,
        seconds); result is None when the call raised."""
        self.attempted += 1
        self.sc.setJobDescription(label if timed else "warmup/" + label)
        t0 = time.perf_counter()
        try:
            out = fn()
        except Exception:  # a failing operation is counted; the run goes on
            self.fail(f"{label}: {traceback.format_exc()}")
            out = None
        dt = time.perf_counter() - t0
        self.sc.setJobDescription(None)
        if out is not None:
            (self.samples if timed else self.warm)[label].append(dt)
        return out, dt

    def fail(self, msg: str) -> None:
        self.failed += 1
        self.errors.append(msg)

    def expect(self, ok: bool, msg: str) -> None:
        """A wrong answer counts as one failed operation."""
        if not ok:
            self.fail(msg)

    def persisted_rdds(self) -> int:
        return int(self.sc._jsc.getPersistentRDDs().size())

    def begin_cycle(self) -> None:
        """Restart the RSS peak, so that each timed cycle gets its own."""
        self.rss.peak_mib = 0.0

    def end_cycle(self, seconds: float) -> None:
        self.cycles.append(seconds)
        self.cycle_peak_mib.append(self.rss.peak_mib)
        self.persisted.append(self.persisted_rdds())

    def end_timed(self) -> None:
        self.timed_end = time.perf_counter()

    def pairs_df(self, rng: np.random.Generator, n: int):
        """BURST_PAIRS seeded (a, b) point queries over vertices 0..n-1."""
        ab = rng.integers(0, n, size=(BURST_PAIRS, 2)).tolist()
        return self.spark.createDataFrame(ab, "a long, b long")


def _cols(table, *names) -> list[np.ndarray]:
    return [table.column(c).to_numpy() for c in names]


def _median(xs: list[float]) -> float | None:
    return statistics.median(xs) if xs else None


# ---------------------------------------------------------------------------
# stream-churn
# ---------------------------------------------------------------------------

CHURN_N = 256
CHURN_GROUPS = 16
CHURN_WARM = 2
CHURN_CYCLE_S = 7.0
# the net graph after every batch is G(n, p') with p' this share of the
# connectivity threshold ln(n)/n
CHURN_THRESHOLD_SHARE = 0.8


def stream_churn(run: Run, seed: int) -> dict:
    """Micro-batches of an Erdos-Renyi churn stream through
    SketchStreamIngestor; each batch is followed by a CC query and a burst.

    A seeded hash of (a, b) puts every pair in one of CHURN_GROUPS groups.
    Batch 0 is group 0's updates, all three rounds of them. Batch k > 0 is
    group k's updates plus a replay of group k-1's, which cancels that
    group's edges by XOR. So about half of every batch are deletions, and the
    net graph after batch k is the er_hash_net_edges law on the pairs of
    group k alone. Groups hold disjoint pairs, so the timed queries run on
    independent graphs, each G(n, p / CHURN_GROUPS) just below the
    connectivity threshold: a giant component plus a few small ones. The
    number of Boruvka passes a query needs depends on the graph; independent
    graphs keep one unlucky graph from setting a run's median."""
    from pyspark.sql import functions as F

    from landscape_spark import linkgraph
    from landscape_spark.session import local_parallelism
    from landscape_spark.sketch.l0 import SketchParams
    from landscape_spark.streaming.ingest import SketchStreamIngestor

    spark = run.spark
    n, groups, warm = CHURN_N, CHURN_GROUPS, CHURN_WARM
    timed = min(run.timed_cycles(CHURN_CYCLE_S), groups - warm)
    p_edge = CHURN_THRESHOLD_SHARE * groups * math.log(n) / n
    parts = local_parallelism(spark)
    rng = np.random.default_rng(seed)

    def prepare():
        group = F.pmod(F.xxhash64("a", "b", F.lit(seed)), F.lit(groups))
        st = linkgraph.er_hash_stream(spark, n, p_edge, rounds=3, seed=seed).select(
            "a", "b", group.alias("grp")
        ).cache()
        st.count()
        return st

    st = run.setup(prepare)
    a, b, grp = _cols(st.toArrow(), "a", "b", "grp")

    def burst_pairs(k: int):
        """BURST_PAIRS point queries for batch k. Nearly every vertex of a
        graph this dense is in its giant component, so half the pairs start
        at a vertex outside it (found from the stream's own net graph after
        batch k), and the answers mix connected and not connected."""
        net = checks.ParityGraph(n).toggle(a[grp == k], b[grp == k])
        uf = checks.components(*net.edges())
        roots = np.array([uf.find(v) for v in range(n)])
        labels, sizes = np.unique(roots, return_counts=True)
        outside = np.flatnonzero(roots != labels[np.argmax(sizes)])
        ab = rng.integers(0, n, size=(BURST_PAIRS, 2))
        if len(outside):
            ab[: BURST_PAIRS // 2, 0] = rng.choice(outside, BURST_PAIRS // 2)
        return spark.createDataFrame(ab.tolist(), "a long, b long")

    pairs = [burst_pairs(k) for k in range(warm + timed)]
    ing = SketchStreamIngestor(
        spark, SketchParams.for_graph(n), str(run.run_dir / "state"), num_partitions=parts
    )
    done: list[tuple[int, object, object]] = []  # (batch, labels, burst)
    rates: list[float] = []

    def in_batch(k: int) -> np.ndarray:
        return (grp == k) | (grp == k - 1)

    def step(k: int, timed: bool) -> None:
        df = st.where(F.col("grp").isin(k, k - 1)).select("a", "b")
        if timed:
            run.begin_cycle()
        # absorb_batch returns None; True marks a call that did not raise
        ok, ta = run.call("ingest.absorb", lambda: ing.absorb_batch(df, k) or True, timed)
        if ok is None:
            return
        labels, tq = run.call("ingest.query", lambda: ing.query_components(0).toArrow(), timed)
        burst, tr = run.call(
            "reach", lambda: ing.burst_point_queries(pairs[k]).toArrow(), timed
        )
        done.append((k, labels, burst))
        if timed:
            rates.append(int(np.count_nonzero(in_batch(k))) / ta)
            run.end_cycle(ta + tq + tr)

    t0 = time.perf_counter()
    for k in range(warm):
        step(k, timed=False)
    run.warmup_s = time.perf_counter() - t0
    for k in range(warm, warm + timed):
        step(k, timed=True)
    run.end_timed()
    state_bytes = sum(p.stat().st_size for p in (run.run_dir / "state").rglob("*") if p.is_file())
    cache_calls = ing.cc_cache_hits + ing.cc_cache_misses
    hit_ratio = ing.cc_cache_hits / cache_calls if cache_calls else 0.0
    st.unpersist()

    # ---- checks (untimed). The XOR parity of everything absorbed so far
    # must equal the er_hash_net_edges law on the pairs of the last group; a
    # union-find over it checks that batch's CC labels and point answers.
    law = linkgraph.er_hash_net_edges(spark, n, p_edge, seed=seed).toArrow()
    la, lb = _cols(law, "a", "b")
    group_of = np.full(n * n, -1)
    group_of[a * n + b] = grp
    law_codes = la * n + lb
    law_grp = group_of[law_codes]
    run.expect(bool((law_grp >= 0).all()), "law edges that the stream never updates")
    # updates per pair; the stream alternates insert, delete, insert, ...
    # from an absent pair, so a group's own pass deletes floor(c/2) times
    # and its replay, which starts from the parity, ceil(c/2) times
    codes, counts = np.unique(a * n + b, return_counts=True)
    count_grp = group_of[codes]
    net = checks.ParityGraph(n)
    seen: set[int] = set()
    batches: list[dict] = []
    for k, labels, burst in done:
        in_k = in_batch(k)
        net.toggle(a[in_k], b[in_k])
        seen.update(a[in_k & (a != b)].tolist(), b[in_k & (a != b)].tolist())
        na, nb = net.edges()
        run.expect(
            np.array_equal(np.sort(law_codes[law_grp == k]), na * n + nb),
            f"batch {k}: stream parity differs from the er_hash_net_edges law",
        )
        uf = checks.components(na, nb)
        if labels is not None:
            vs, comps = _cols(labels, "v", "comp")
            run.expect(np.array_equal(np.sort(vs), np.array(sorted(seen))),
                       f"batch {k}: vertex set differs")
            bad = checks.label_mismatches(vs, comps, uf)
            run.expect(bad == 0, f"batch {k}: {bad} wrong CC labels")
        true_share = None
        if burst is not None:
            ra, rb, conn = _cols(burst, "a", "b", "connected")
            bad = checks.reach_mismatches(ra, rb, conn, uf)
            run.expect(bad == 0, f"batch {k}: {bad} wrong point answers")
            true_share = float(np.mean(conn)) if len(conn) else 0.0
        if k >= warm:
            updates = int(np.count_nonzero(in_k))
            deletions = int((counts[count_grp == k] // 2).sum()
                            + ((counts[count_grp == k - 1] + 1) // 2).sum())
            batches.append({
                "batch": k,
                "updates": updates,
                "deletions": round(deletions / updates, 3),
                "net_edges": len(na),
                "components": len({uf.find(v) for v in seen}),
                "connected_answers": true_share,
            })

    return {
        "ingest_updates_per_s": _median(rates),
        "cc_query_s": _median(run.samples["ingest.query"]),
        "point_query_s": _median(run.samples["reach"]),
        "state_bytes": state_bytes,
        "cc_cache_hit_ratio": hit_ratio,
        "timed_batches": batches,
        "workload_info": {
            "n": n, "p_edge": round(p_edge, 5), "updates": len(a), "groups": groups,
            "warm_batches": warm, "timed_batches": timed, "partitions": parts,
        },
    }




# ---------------------------------------------------------------------------
# link-analytics
# ---------------------------------------------------------------------------

LINK_N = 1000
LINK_BURSTS = 2
LINK_CYCLE_S = 5.5


def link_analytics(run: Run, seed: int) -> dict:
    """Suite passes over the derived link graph: sketch build, and exact CC
    with point bursts on its labels. The edges are derived and cached once,
    in set-up."""
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    import __spark_entry__
    from landscape_spark import linkgraph
    from landscape_spark.graph.cc import connected_components_exact
    from landscape_spark.session import local_parallelism
    from landscape_spark.sketch.boruvka import batched_reachability
    from landscape_spark.sketch.build import build_group_slices
    from landscape_spark.sketch.l0 import SketchParams

    spark = run.spark
    parts = local_parallelism(spark)
    rng = np.random.default_rng(seed)
    timed = run.timed_cycles(LINK_CYCLE_S)
    sf = run.run_dir / "sf"
    params = SketchParams.for_graph(LINK_N)

    def prepare():
        """A documents table with doc ids 0..n-1 minus a seeded 5% (those ids
        stay vertices with in-links only; id n-1 is always kept), and its
        link graph, derived and cached."""
        keep = np.sort(rng.choice(LINK_N - 1, size=int(0.95 * (LINK_N - 1)), replace=False))
        sf.mkdir(parents=True)
        pq.write_table(pa.table({"doc_id": np.append(keep, LINK_N - 1).astype(np.int64)}),
                       sf / "documents.parquet")
        ue = linkgraph.undirected_edges(spark, str(sf)).cache()
        vs = linkgraph.vertices(spark, str(sf)).cache()
        return ue, vs, ue.count(), vs.count()

    ue, vs, n_edges, _ = run.setup(prepare)
    pairs = [run.pairs_df(rng, LINK_N) for _ in range(LINK_BURSTS * (1 + timed))]
    outputs: list[dict] = []

    def suite(p: int, timed: bool) -> float:
        """One pass over the operator suite; returns its seconds."""
        cc_df: list = []

        def build():
            build_group_slices(ue, params, parts).write.format("noop").mode("overwrite").save()
            return True

        def cc():
            cc_df.append(connected_components_exact(ue, vs))
            return cc_df[0].toArrow()

        out: dict = {"reach": []}
        total = 0.0
        for label, fn in (("build", build), ("graph.cc", cc)):
            out[label], dt = run.call(label, fn, timed)
            total += dt
        if cc_df:
            # point-query bursts on the exact labels
            for j in range(LINK_BURSTS):
                pj = pairs[p * LINK_BURSTS + j]
                res, dt = run.call(
                    "reach", lambda: batched_reachability(cc_df[0], pj).toArrow(), timed)
                out["reach"].append(res)
                total += dt
        outputs.append(out)
        return total

    # warm-up: one untimed pass over the same graph
    t0 = time.perf_counter()
    suite(0, timed=False)
    run.warmup_s = time.perf_counter() - t0

    for p in range(1, 1 + timed):
        run.begin_cycle()
        run.end_cycle(suite(p, timed=True))
    run.end_timed()
    ue.unpersist()
    vs.unpersist()

    # ---- checks (untimed): the __spark_entry__ DuckDB oracles
    oracles = __spark_entry__.oracle_sql()
    cte = linkgraph.EDGES_CTE.strip().rstrip(",")
    con = duckdb.connect()
    try:
        con.execute(f"SET threads={len(os.sched_getaffinity(0))}")
        con.execute(f"SET temp_directory='{run.run_dir / 'duckdb'}'")
        con.execute(f"CREATE TABLE documents AS SELECT * FROM "
                    f"read_parquet('{sf / 'documents.parquet'}')")
        want = dict(con.execute(oracles["cc"]).fetchall())
        edges = con.execute(f"WITH {cte} SELECT a, b FROM lg_undirected").fetchnumpy()
    finally:
        con.close()

    uf = checks.components(edges["a"], edges["b"])
    for i, out in enumerate(outputs):
        if out.get("graph.cc") is not None:
            ks, comps = _cols(out["graph.cc"], "v", "comp")
            bad = len(ks) != len(want) or any(
                want.get(k) != c for k, c in zip(ks.tolist(), comps.tolist()))
            run.expect(not bad, f"pass {i}: graph.cc differs from the oracle")
        for t in out["reach"]:
            if t is not None:
                ra, rb, conn = _cols(t, "a", "b", "connected")
                bad = checks.reach_mismatches(ra, rb, conn, uf)
                run.expect(bad == 0, f"pass {i}: {bad} wrong point answers")

    build_s = _median(run.samples["build"])
    return {
        "ingest_updates_per_s": n_edges / build_s if build_s else None,
        "cc_query_s": _median(run.samples["graph.cc"]),
        "point_query_s": _median(run.samples["reach"]),
        "update_bytes_per_build": n_edges * 16,
        "workload_info": {"n": LINK_N, "undirected_edges": n_edges,
                          "components": len({uf.find(v) for v in want}),
                          "timed_passes": timed, "partitions": parts},
    }


WORKLOADS = {
    "stream-churn": stream_churn,
    "link-analytics": link_analytics,
}


def kernel_updates_per_s(seed: int) -> float:
    """sketch.l0.build_sketches on a fixed in-memory batch in this process:
    2^16 edge updates (2^17 endpoint updates) at n=2^14, median of 7."""
    from landscape_spark.sketch.l0 import SketchParams, build_sketches

    n, m = 1 << 14, 1 << 16
    rng = np.random.default_rng(seed)
    u = rng.integers(0, n, m)
    v = rng.integers(0, n, m)
    lo, hi = np.minimum(u, v), np.maximum(u, v)
    code = (lo * n + hi + 1).astype(np.uint64)
    vids = np.concatenate([lo, hi])
    codes = np.concatenate([code, code])
    params = SketchParams.for_graph(n)
    times = []
    for _ in range(7):
        t0 = time.perf_counter()
        build_sketches(vids, codes, params)
        times.append(time.perf_counter() - t0)
    return m / statistics.median(times)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--run-dir", required=True)
    args = ap.parse_args()
    run_dir = Path(args.run_dir)

    from landscape_spark.metrics import PeakRssSampler
    from landscape_spark.session import get_spark

    conf = {"spark.ui.showConsoleProgress": "false"}
    if args.trace:
        (run_dir / "events").mkdir()
        conf["spark.eventLog.enabled"] = "true"
        conf["spark.eventLog.dir"] = (run_dir / "events").as_uri()
        # one plain JSON-lines file, which eventlog.py reads without a codec
        conf["spark.eventLog.compress"] = "false"
        conf["spark.eventLog.rolling.enabled"] = "false"
    steal0 = cpu_counters()
    with PeakRssSampler(interval=0.2) as rss:
        t0 = time.perf_counter()
        spark = get_spark(app_name="perfbench", extra_conf=conf)
        spark.sparkContext.setLogLevel("ERROR")
        session_s = time.perf_counter() - t0
        run = Run(spark, args.seconds, run_dir, rss)
        wl = WORKLOADS[args.workload](run, args.seed)
    after_timed_s = time.perf_counter() - run.timed_end
    steal1 = cpu_counters()

    result = {
        "attempted": run.attempted,
        "failed": run.failed,
        "errors": run.errors[:20],
        "setup": {
            "session_s": session_s,
            "prepare_s": run.prepare_s,
            "warmup_s": run.warmup_s,
            "after_timed_s": after_timed_s,
            "setup_s": session_s + run.prepare_s + run.warmup_s,
        },
        "cycle_peak_mib": run.cycle_peak_mib,
        "samples": dict(run.samples),
        "warmup_calls": dict(run.warm),
        "cycles": run.cycles,
        "persisted_rdds": run.persisted,
        "workload": {k: v for k, v in wl.items() if k != "workload_info"},
        "workload_info": wl.get("workload_info", {}),
        "host": {
            "nproc": len(os.sched_getaffinity(0)),
            "master": spark.sparkContext.master,
            "local_dir": os.environ.get("SPARK_LOCAL_DIRS")
            or spark.sparkContext.getConf().get("spark.local.dir", "/tmp"),
            "steal_share": (steal1[0] - steal0[0]) / max(1, steal1[1] - steal0[1]),
            "git_revision": git_revision(),
            "source_digest": source_digest(),
        },
    }
    t0 = time.perf_counter()
    stop_spark(spark)
    result["setup"]["stop_s"] = time.perf_counter() - t0
    if args.trace:
        import eventlog

        result["events"] = eventlog.per_label(run_dir / "events")
        # after the JVM has exited, so that it does not share the CPU caches
        result["kernel_updates_per_s"] = kernel_updates_per_s(args.seed)
    (run_dir / "result.json").write_text(json.dumps(result))
    return 0


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM: it exits when its stdin,
    held by this process, closes."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        proc.wait(timeout=60)


if __name__ == "__main__":
    sys.exit(main())
