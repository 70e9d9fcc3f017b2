"""Runtime metrics: shuffle-byte accounting ("comm factor") + live heartbeat.

The reference records a network communication factor — bytes-on-wire divided
by raw stream bytes — from /proc/net/dev deltas
(/root/reference/experiment/cluster_speed_expr.cpp:101-105,
/root/reference/experiment/parser.py:21-27), and runs a status thread that
samples per-distributor progress every 200 ms into an atomically-renamed
status file (/root/reference/src/work_distributor.cpp:24-90).

Spark analogs:
* comm factor = total shuffle-write bytes (Spark's only wire traffic in
  local/cluster mode besides task dispatch) / logical stream payload bytes,
  read from the Spark REST status API (requires spark.ui.enabled=true —
  bench.py enables it; functions return None gracefully when it is off).
* HeartbeatReporter — a daemon thread sampling active stages + cumulative
  shuffle/input bytes every ``interval`` seconds into a JSONL file via
  atomic rename.
"""

from __future__ import annotations

import json
import os
import threading
import time
import urllib.request

from pyspark.sql import SparkSession


def stage_totals(spark: SparkSession) -> dict | None:
    """Cumulative stage metrics from the REST status API, or None when the
    UI/REST endpoint is disabled."""
    url = spark.sparkContext.uiWebUrl
    if not url:
        return None
    app_id = spark.sparkContext.applicationId
    try:
        with urllib.request.urlopen(
            f"{url}/api/v1/applications/{app_id}/stages", timeout=5
        ) as r:
            stages = json.load(r)
    except Exception:
        return None
    tot = {
        "shuffle_write_bytes": 0,
        "shuffle_read_bytes": 0,
        "input_bytes": 0,
        "output_bytes": 0,
        "n_stages": len(stages),
    }
    for s in stages:
        tot["shuffle_write_bytes"] += s.get("shuffleWriteBytes", 0)
        tot["shuffle_read_bytes"] += s.get("shuffleReadBytes", 0)
        tot["input_bytes"] += s.get("inputBytes", 0)
        tot["output_bytes"] += s.get("outputBytes", 0)
    return tot


def comm_factor(
    before: dict | None, after: dict | None, payload_bytes: int
) -> float | None:
    """Bytes shuffled between two stage_totals snapshots / logical payload
    bytes — the reference's comm-factor shape (parser.py:21-27)."""
    if before is None or after is None or payload_bytes <= 0:
        return None
    wire = after["shuffle_write_bytes"] - before["shuffle_write_bytes"]
    return wire / payload_bytes


def _proc_rss_mib(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        return 0.0
    return 0.0


def _descendant_pids(root: int, depth: int = 4) -> list[int]:
    """Descendant PIDs via /proc ppid scan, ``depth`` generations deep.
    The full local-mode tree is driver -> JVM -> Python worker daemon ->
    UDF workers (depth 3). Under ``get_spark``'s local masters the daemon
    is ``landscape_spark.pyworker``, which runs ``pyspark.daemon``'s loop in
    its own process, so the depth is the same as with Spark's daemon. The
    workers hold the numpy kernel allocations, so a depth-2 scan (the
    original default) missed the processes with the largest RSS and
    under-reported peaks; depth 4 adds one spare level."""
    by_parent: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                parts = f.read().rsplit(")", 1)[1].split()
            by_parent.setdefault(int(parts[1]), []).append(int(d))
        except (OSError, IndexError, ValueError):
            continue
    out: list[int] = []
    frontier = [root]
    for _ in range(depth):
        nxt: list[int] = []
        for p in frontier:
            nxt.extend(by_parent.get(p, []))
        out.extend(nxt)
        frontier = nxt
    return out


class PeakRssSampler:
    """Samples resident-set size of the driver process PLUS its descendant
    JVM/worker processes every ``interval`` seconds; ``peak_mib`` is the
    maximum TOTAL observed. The analog of the reference's max-RSS report for
    the k-forest experiment (/root/reference/experiment/
    cluster_k_connect_expr.cpp:14-18,124 get_max_mem_used) — sampled VmRSS
    rather than ru_maxrss so the figure covers the phase, not process
    lifetime."""

    def __init__(self, interval: float = 0.2) -> None:
        self.interval = interval
        self.peak_mib = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> None:
        me = os.getpid()
        total = _proc_rss_mib(me) + sum(
            _proc_rss_mib(p) for p in _descendant_pids(me)
        )
        self.peak_mib = max(self.peak_mib, total)

    def _run(self) -> None:
        while not self._stop.is_set():
            try:
                self._sample()
            except Exception:
                pass
            self._stop.wait(self.interval)

    def __enter__(self) -> "PeakRssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self._sample()


class HeartbeatReporter:
    """Daemon thread writing {ts, active_stages, totals...} JSON lines to
    ``path`` every ``interval`` seconds. The reference's status file is an
    atomic whole-file rename (work_distributor.cpp:83-88) because readers
    want the LATEST snapshot; our consumers tail the history, so each sample
    is APPENDED (O(1) memory and I/O per tick — a rewrite-everything loop is
    O(n^2) cumulative on long runs). A fresh start truncates the file."""

    def __init__(
        self, spark: SparkSession, path: str, interval: float = 0.2
    ) -> None:
        self.spark = spark
        self.path = path
        self.interval = interval
        self._stop = threading.Event()
        self.samples = 0
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> dict:
        tracker = self.spark.sparkContext.statusTracker()
        rec: dict = {
            "ts": round(time.time(), 3),
            "active_stages": list(tracker.getActiveStageIds()),
            "active_jobs": list(tracker.getActiveJobsIds()),
        }
        tot = stage_totals(self.spark)
        if tot is not None:
            rec.update(tot)
        return rec

    def _append(self, line: str) -> None:
        with open(self.path, "a") as f:
            f.write(line + "\n")
            f.flush()
        self.samples += 1

    def _run(self) -> None:
        while not self._stop.is_set():
            try:
                self._append(json.dumps(self._sample()))
            except Exception:
                pass
            self._stop.wait(self.interval)

    def start(self) -> "HeartbeatReporter":
        open(self.path, "w").close()  # truncate: the file records THIS run
        self._thread.start()
        return self

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        try:
            self._append(json.dumps(self._sample()))
        except Exception:
            pass
