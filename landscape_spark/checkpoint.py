"""Per-round checkpoints: the in-session round step and round loop, and
durable rounds with per-partition lineage + metrics (north rule).

``step`` is the one round primitive of every iterative graph/ operator: it
cuts the round's lineage with an eager local checkpoint, reads the round's
integer certificates off the same job, and frees the checkpoints the new
round replaces, so a finished query leaves only the checkpoints its result
reads. The reference likewise keeps
only the current round's state on its main node (its
src/graph_distrib_update.cpp:105-154).

``rounds`` numbers the rounds of every capped graph/ loop and owns the one
exhaustion policy: a loop that runs out without its stop certificate warns,
unless the operator declares that it raises or that its bounded result is
the contract. ``expand`` is the one frontier closure (reachability, BFS
levels, SCC's backward mark, Brandes' forward levels) built on both.

Every Boruvka round (and any other iterative loop) can persist its state as
parquet plus a lineage JSON capturing: round index, input lineage (previous
round's path), per-partition row counts, row totals, timing metrics, and the
sketch parameters — enough to resume mid-iteration after a failure and to
audit data movement per round (the reference's analog is its status/metrics
side thread, /root/reference/src/work_distributor.cpp:24-90, plus the DSU
cache that lets repeated queries skip recomputation,
/root/reference/src/graph_distrib_update.cpp:107-120).
"""

from __future__ import annotations

import json
import os
import time
import warnings
from collections.abc import Callable, Iterable, Iterator, Sequence
from typing import Any, Literal

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F


def _release(df: DataFrame) -> None:
    """Free the blocks of every local checkpoint ``df`` reads: they belong to
    the RDD under each LogicalRDD leaf of its plan, which DataFrame.unpersist
    does not reach. Pass only frames whose checkpoints the caller owns."""
    leaves = df._jdf.queryExecution().analyzed().collectLeaves()
    for leaf in (leaves.apply(i) for i in range(leaves.size())):
        if leaf.getClass().getSimpleName() == "LogicalRDD":
            leaf.rdd().unpersist(False)


def step(
    df: DataFrame, *, release: Iterable[DataFrame] = (), **ints: Column
) -> tuple[DataFrame, dict[str, int]]:
    """One round: ``df`` as an eager local checkpoint, and the integer
    aggregates ``ints`` (name -> Column) observed on that same job. Once it
    is materialized, the checkpoints of every frame in ``release`` are freed
    (_release) — the frames this round replaces, which nothing reads any
    more. Observed values merge in task-completion order, so only integers
    may ride here (exact under any order); a float raises TypeError. None,
    a sum over zero rows, passes."""
    obs = Observation()
    if ints:
        df = df.observe(obs, *[agg.alias(name) for name, agg in ints.items()])
    out = df.localCheckpoint(eager=True)
    stats = obs.get if ints else {}
    if any(isinstance(value, float) for value in stats.values()):
        _release(out)
        raise TypeError(f"observed float aggregates in {stats}: only integers are exact here")
    for frame in release:
        _release(frame)
    return out, stats


def rounds(
    op: str,
    cap: int,
    partial: str = "",
    *,
    on_cap: Literal["warn", "raise", "return"] = "warn",
) -> Iterator[int]:
    """The round numbers 1..``cap`` of a capped loop, written
    ``for r in rounds(...)`` with a ``break`` (or ``return``) once the
    loop's stop certificate holds. Only a loop that runs out reaches the
    code after the last round, the one exhaustion policy, which says
    "{op} did not converge within {cap} rounds — {partial}": as a
    RuntimeWarning (``on_cap="warn"``, the partial result is returned), as
    a RuntimeError (``"raise"``, for a contract that refuses a partial
    result), or not at all (``"return"``, for a contract whose result is
    the cap-bounded one, such as a hop ball). Sets no job description."""
    yield from range(1, cap + 1)
    message = f"{op} did not converge within {cap} rounds — {partial}"
    if on_cap == "raise":
        raise RuntimeError(message)
    if on_cap == "warn":
        warnings.warn(message, RuntimeWarning, stacklevel=3)


def expand(
    op: str,
    cap: int,
    seeds: DataFrame,
    level: Callable[[DataFrame, int], DataFrame],
    *,
    keys: Sequence[str] = ("v",),
    levels: list[DataFrame] | None = None,
    partial: str = "",
    on_cap: Literal["warn", "raise", "return"] = "warn",
) -> DataFrame:
    """Frontier closure under ``rounds(op, cap, partial, on_cap=on_cap)``:
    one consolidated checkpoint of the ``seeds`` rows plus every level
    reached from them. Round r steps ``level(frontier, r)`` less the rows
    whose ``keys`` are already reached, observing its row count on the same
    job; the first empty level stops the loop, and any other is unioned
    into the reached checkpoint (its columns) and becomes the next
    frontier. Each reached checkpoint a round replaces is freed, and so is
    each level once the next replaces it, unless ``levels`` is given: the
    levels so far, whose last is the first frontier (else the seeds are),
    which gets every new level for the caller to keep and free."""
    reached, _ = step(seeds)
    frontier = levels[-1] if levels else reached
    spent: tuple[DataFrame, ...] = ()
    for r in rounds(op, cap, partial, on_cap=on_cap):
        nxt, stats = step(
            level(frontier, r).join(reached.select(*keys), on=list(keys), how="left_anti"),
            release=spent,
            n=F.count(F.lit(1)),
        )
        if stats["n"] == 0:
            _release(nxt)
            break
        reached, _ = step(reached.unionAll(nxt.select(*reached.columns)), release=(reached,))
        frontier = nxt
        if levels is None:
            spent = (nxt,)
        else:
            levels.append(nxt)
    else:
        for frame in spent:
            _release(frame)
    return reached


def partition_counts(df: DataFrame) -> list[int]:
    rows = (
        df.withColumn("_pid", F.spark_partition_id())
        .groupBy("_pid")
        .count()
        .collect()
    )
    by_pid = {r._pid: r["count"] for r in rows}
    return [by_pid.get(i, 0) for i in range(max(by_pid) + 1)] if by_pid else []


class RoundCheckpointer:
    """Writes {base}/{step}/round=N/{name}.parquet + lineage.json per round."""

    def __init__(self, spark: SparkSession, base_dir: str, step: str) -> None:
        self.spark = spark
        self.dir = os.path.join(base_dir, step)
        os.makedirs(self.dir, exist_ok=True)

    def round_dir(self, rnd: int) -> str:
        return os.path.join(self.dir, f"round={rnd}")

    def save_round(
        self,
        rnd: int,
        dfs: dict[str, DataFrame],
        state: dict[str, Any],
        metrics: dict[str, Any],
    ) -> None:
        rd = self.round_dir(rnd)
        t0 = time.time()
        # 'previous' points at the latest round actually WRITTEN before this
        # one — batched iteration schedules skip round indices (e.g. rounds
        # 0, 4, 6 from 4-then-2 group batching), so round_dir(rnd-1) would
        # be a dangling reference for every round after the first
        earlier = [
            r
            for r in (self._existing_rounds() if rnd > 0 else [])
            if r < rnd
        ]
        lineage: dict[str, Any] = {
            "round": rnd,
            "ts": time.time(),
            "previous": self.round_dir(max(earlier)) if earlier else None,
            "tables": {},
            "state": state,
            "metrics": metrics,
        }
        for name, df in dfs.items():
            path = os.path.join(rd, f"{name}.parquet")
            df.write.mode("overwrite").parquet(path)
            lineage["tables"][name] = {
                "path": path,
                "rows": df.count(),
                "partition_rows": partition_counts(df),
                "schema": df.schema.simpleString(),
            }
        lineage["metrics"]["checkpoint_write_sec"] = round(time.time() - t0, 3)
        tmp = os.path.join(rd, "lineage.json.tmp")
        with open(tmp, "w") as f:
            json.dump(lineage, f, indent=1)
        os.replace(tmp, os.path.join(rd, "lineage.json"))  # atomic, like the
        # reference's status-file rename (work_distributor.cpp:83-88)

    def _existing_rounds(self) -> list[int]:
        return [
            int(d.split("=", 1)[1])
            for d in os.listdir(self.dir)
            if d.startswith("round=")
            and os.path.exists(os.path.join(self.dir, d, "lineage.json"))
        ]

    def latest_round(self) -> int | None:
        rounds = self._existing_rounds()
        return max(rounds) if rounds else None

    def load_round(self, rnd: int) -> tuple[dict[str, DataFrame], dict[str, Any]]:
        rd = self.round_dir(rnd)
        with open(os.path.join(rd, "lineage.json")) as f:
            lineage = json.load(f)
        dfs = {
            name: self.spark.read.parquet(meta["path"])
            for name, meta in lineage["tables"].items()
        }
        return dfs, lineage
