"""Benchmark entry point: one run of one workload.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. It pins the environment the program reads,
starts perfbench/worker.py in its own process group under a hard deadline,
removes every process and file the run created, prints a human-readable
report, and prints as its last line one JSON object:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the metrics are
the end-to-end metrics of BENCHMARK.json; with --trace 1 the run also writes
Spark's event log and the metrics are the per-layer ones.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

from eventlog import FIELDS  # noqa: E402
from worker import LABELS, WORKLOADS  # noqa: E402

DEADLINE_S = 170.0
DRIVER_MEMORY = "1g"
# per-label event-log fields reported for every label; output bytes only
# for the one writer, ingest.absorb
EVENT_FIELDS = tuple(f for f in FIELDS if f != "output_bytes")


def pinned_env(run_dir: Path) -> dict[str, str]:
    """The environment the program reads, fixed per run: local[nproc], a
    JVM heap that fits a small host, and spark-local / temp dirs inside
    this run's own directory (never /dev/shm)."""
    env = dict(os.environ)
    env.pop("SPARK_GRAFT_MASTER", None)
    tmp = run_dir / "tmp"
    tmp.mkdir(parents=True)
    env.update(
        SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEMORY,
        SPARK_GRAFT_NO_SHM="1",
        SPARK_LOCAL_DIRS=str(run_dir / "spark-local"),
        PYSPARK_PYTHON=sys.executable,
        PYTHONPATH=os.pathsep.join(filter(None, [str(ROOT), env.get("PYTHONPATH")])),
        PYTHONHASHSEED="0",
        TMPDIR=str(tmp),
        JAVA_TOOL_OPTIONS=f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
    )
    return env


def stop_group(proc: subprocess.Popen) -> None:
    """SIGKILL whatever is left of the worker's process group, reap the
    worker, and wait until the group is empty."""
    try:
        os.killpg(proc.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    proc.wait()
    for _ in range(300):
        try:
            os.killpg(proc.pid, 0)
        except ProcessLookupError:
            return
        time.sleep(0.05)
    print(f"perfbench: process group {proc.pid} did not exit", file=sys.stderr)


def run_worker(args, run_dir: Path) -> dict | None:
    cmd = [
        sys.executable, str(HERE / "worker.py"),
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--run-dir", str(run_dir),
    ]
    proc = subprocess.Popen(
        cmd, env=pinned_env(run_dir), cwd=ROOT, stdout=sys.stderr.fileno(),
        start_new_session=True,
    )
    try:
        rc = proc.wait(timeout=DEADLINE_S)
    except subprocess.TimeoutExpired:
        print(f"perfbench: worker exceeded {DEADLINE_S:.0f} s", file=sys.stderr)
        rc = None
    finally:
        stop_group(proc)
    out = run_dir / "result.json"
    if rc != 0 or not out.is_file():
        print(f"perfbench: worker failed (exit {rc})", file=sys.stderr)
        return None
    return json.loads(out.read_text())


def drift(xs: list[float]) -> str:
    if len(xs) < 2:
        return "-"
    h = len(xs) // 2
    return f"{statistics.median(xs[:h]):.4g} -> {statistics.median(xs[h:]):.4g}"


def _median(xs: list[float]) -> float | None:
    return statistics.median(xs) if xs else None


def end_to_end(res: dict) -> dict[str, float | None]:
    wl = res["workload"]
    return {
        "setup_s": res["setup"]["setup_s"],
        "peak_rss_mib": _median(res["cycle_peak_mib"]),
        "ingest_updates_per_s": wl["ingest_updates_per_s"],
        "cc_query_s": wl["cc_query_s"],
        "point_query_s": wl["point_query_s"],
        "suite_s": _median(res["cycles"]),
    }


def per_layer(res: dict) -> dict[str, float]:
    events = res.get("events", {})
    samples = res["samples"]
    wl = res["workload"]
    out: dict[str, float] = {}
    for label in LABELS:
        calls = len(samples.get(label, []))
        ev = events.get(label, {})
        out[f"{label}.wall_s"] = statistics.median(samples[label]) if calls else 0.0
        for f in EVENT_FIELDS:
            out[f"{label}.{f}"] = ev.get(f, 0) / calls if calls else 0.0
    absorbs = len(samples.get("ingest.absorb", []))
    out["ingest.absorb.output_bytes"] = (
        events.get("ingest.absorb", {}).get("output_bytes", 0) / absorbs if absorbs else 0.0
    )
    out["build.comm_factor"] = (
        out["build.shuffle_write_bytes"] / wl["update_bytes_per_build"]
        if "update_bytes_per_build" in wl else 0.0
    )
    out["l0.kernel_updates_per_s"] = res["kernel_updates_per_s"]
    out["ingest.state_bytes"] = float(wl.get("state_bytes", 0))
    out["ingest.cc_cache_hit_ratio"] = float(wl.get("cc_cache_hit_ratio", 0.0))
    out["session.persisted_rdds"] = float(res["persisted_rdds"][-1]) if res["persisted_rdds"] else 0.0
    out["host.steal_share"] = res["host"]["steal_share"]
    out["host.nproc"] = float(res["host"]["nproc"])
    return out


def report(args, res: dict, e2e: dict) -> None:
    s = res["setup"]
    print(f"perfbench {args.workload} seed={args.seed} seconds={args.seconds} trace={args.trace}")
    print("host: " + " ".join(f"{k}={v}" for k, v in res["host"].items()))
    print("inputs: " + " ".join(f"{k}={v}" for k, v in res["workload_info"].items()))
    print(
        f"setup: session {s['session_s']:.3f} s + prepare {s['prepare_s']:.3f} s"
        f" + warm-up {s['warmup_s']:.3f} s = {s['setup_s']:.3f} s;"
        f" after the timed cycles: checks {s['after_timed_s']:.3f} s,"
        f" session stop {s['stop_s']:.3f} s"
    )
    for b in res["workload"].get("timed_batches", []):
        print("timed batch: " + " ".join(f"{k}={v}" for k, v in b.items()))
    # with at most a dozen samples per series, the max is the highest
    # percentile the samples support
    print(f"{'series':<24}{'n':>4}{'median':>12}{'max':>12}  first half -> second half")
    series = dict(res["samples"])
    series["cycle (suite_s)"] = res["cycles"]
    series["cycle peak RSS MiB"] = res["cycle_peak_mib"]
    for name, xs in series.items():
        if xs:
            print(f"{name:<24}{len(xs):>4}{statistics.median(xs):>12.4g}{max(xs):>12.4g}  "
                  f"{drift(xs)}")
    print("warm-up calls: " + ", ".join(
        f"{k} {' '.join('%.3f' % x for x in v)}" for k, v in res["warmup_calls"].items()))
    print(f"session.persisted_rdds after each cycle: {res['persisted_rdds']}")
    for name, v in e2e.items():
        print(f"  {name:<22} {v}")
    print(f"operations: attempted {res['attempted']}, failed {res['failed']}")
    for e in res["errors"]:
        print("  FAILED: " + e.strip().replace("\n", "\n    "))
    if args.trace:
        calls = {k: len(v) for k, v in res["samples"].items()}
        cols = ("wall_s",) + EVENT_FIELDS
        print("per-layer, per timed call (event log, labels set with setJobDescription):")
        print(f"{'label':<24}{'calls':>6}" + "".join(f"{c:>20}" for c in cols))
        pl = per_layer(res)
        for label in LABELS:
            if calls.get(label):
                print(f"{label:<24}{calls[label]:>6}"
                      + "".join(f"{pl[f'{label}.{c}']:>20.6g}" for c in cols))
        other = {k: v for k, v in res["events"].items() if k not in LABELS}
        for k, v in sorted(other.items()):
            print(f"  untimed {k or '(no label)'}: jobs={v['jobs']:.0f} tasks={v['tasks']:.0f}")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    args = ap.parse_args()
    # a terminated benchmark still removes its worker's process group and files
    signal.signal(signal.SIGTERM, lambda signum, frame: sys.exit(128 + signum))

    if not (ROOT / "landscape_spark" / "__init__.py").is_file():
        print(f"perfbench: no landscape_spark package under {ROOT}", file=sys.stderr)
        return 2
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    wanted = spec["per_layer" if args.trace else "end_to_end"]

    base = ROOT / ".perfbench_run"
    run_dir = base / f"{args.workload}-{args.seed}-{os.getpid()}"
    try:
        run_dir.mkdir(parents=True)
        res = run_worker(args, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            base.rmdir()
        except OSError:
            pass
    if res is None:
        return 1

    e2e = end_to_end(res)
    report(args, res, e2e)
    values = per_layer(res) if args.trace else e2e
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in wanted}
    complete = all(v["value"] is not None for v in metrics.values())
    print(json.dumps({
        "correct": res["failed"] == 0 and complete,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
