"""Exact connected components: hook-and-shortcut, finished on the driver.

This is the engine's EXACT CC operator (the deterministic golden path the
sketch-based Boruvka CC is verified against). The reference's exact analog is
its verifier oracle (/root/reference/test/distributed_graph_test.cpp:16-27
uses FileGraphVerifier over the cumulative stream), and it keeps its
union-find on the main node (src/graph_distrib_update.cpp:105-154); its
production CC is the sketch path (see landscape_spark.sketch.boruvka).

Algorithm: hook-and-shortcut over root-relabelled edges. Every vertex starts
as its own root; each round every root hooks onto the smallest root it
touches, then full pointer jumping makes every tree a star again, and the
edges are relabelled to their endpoints' roots, dropping the ones inside a
component. Pointers only ever go to smaller ids, so the roots are the
component minima (a unique fixpoint), and the round count follows the
logarithm of the component size, not the diameter: a shuffled 65536-vertex
path takes 11 rounds ("Finding connected components in map-reduce in
logarithmic rounds", ICDE'13).

Placement: while the live edge set is larger than COLLECT_THRESHOLD, each
round runs as DataFrame jobs (the hook aggregate, then pointer jumps and the
edge relabel as union + window steps, _follow), every intermediate a local
checkpoint (checkpoint.step) released before the call returns. Once the
live edges fit, they come to the driver through Arrow and the numpy kernel
(_hook_and_shortcut) finishes. The driver-side union-find this
amounts to is bounded by the one constant, as "BTS: load-balanced
distributed union-find" (ICDE'24) bounds a central one. Sketch Boruvka
(sketch/boruvka.py) merges its sampled cut edges on the driver only, with
this kernel's pointer jumping (_pointer_jump).
"""

from __future__ import annotations

from collections.abc import Iterable

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from landscape_spark.checkpoint import _release, rounds, step

# The most rows the driver owns. Exact CC collects its live edge set once it
# has at most this many edges (with no distributed round run, the vertex
# column too).
COLLECT_THRESHOLD = 2_000_000


def symmetrize(und_edges: DataFrame) -> DataFrame:
    """(a,b) canonical undirected -> both directions (v, w)."""
    return und_edges.select(
        F.col("a").alias("v"), F.col("b").alias("w")
    ).unionAll(und_edges.select(F.col("b").alias("v"), F.col("a").alias("w")))


def _local_frame(spark: SparkSession, cols: dict[str, np.ndarray], schema: str) -> DataFrame:
    """One-partition DataFrame over driver-side arrays, built through Arrow.
    A frame built from a Python list is a pickled Python RDD, and every
    scan of it maps spark.default.parallelism partitions through Python
    workers (on a local master get_spark sets one per task slot, so one
    wave of Python tasks); an Arrow-built frame is a local relation,
    scanned in up to that many JVM tasks. Coalesced, every scan is one task
    (an empty frame too: Spark keeps one empty partition). Building and
    collecting 100 pairs took 0.027 s this way against 0.043-0.045 s from a
    list on local[4], with get_spark's Unix-socket workers (0.079-0.082 s
    over loopback TCP)."""
    table = pa.table({c: pa.array(a) for c, a in cols.items()})
    return spark.createDataFrame(table, schema).coalesce(1)


def _collect_at_most(df: DataFrame, bound: int) -> pa.Table:
    """At most ``bound + 1`` rows of ``df`` on the driver through Arrow:
    more than ``bound`` rows means the frame did not fit. ``limit`` alone
    collects through an exchange under ``toArrow()``: every partition's
    rows shuffle into one, one extra stage and task. A narrow plan instead
    runs as ONE task with no exchange, ``coalesce(1).limit(bound + 1)``; a
    held stream absorb of about 6000 edges went from 2 stages, 5 tasks and
    55 KB of shuffle to 1 stage, 1 task and none on local[4]. The cost is
    that the whole narrow stage, Python UDFs included, runs in that one
    task; the callers fold or gather the rows on one driver thread anyway.

    The executed plan is read once, and ``toArrow()`` reuses it (planning it
    twice cost about 24 ms per call). A frame whose plan is adaptive (an
    exchange, a distribution requirement or an adaptive cache below it, as
    under ``distinct()``) keeps the plain ``limit``, so a blocking final
    stage never runs as one task. So does every frame with AQE off, where
    such a plan's root is the ``CollectLimitExec`` itself. Exact CC's edge
    collect keeps the plain ``limit``: its edges read an adaptive cache, so
    this helper would plan them twice for the same plain collect."""
    q = df.coalesce(1).limit(bound + 1)
    spark = df.sparkSession
    if (
        spark.conf.get("spark.sql.adaptive.enabled").lower() == "true"
        and q._jdf.queryExecution().executedPlan().getClass().getSimpleName()
        != "AdaptiveSparkPlanExec"
    ):
        return q.toArrow()
    return df.limit(bound + 1).toArrow()


def _ids(table: pa.Table, col: str) -> np.ndarray:
    """A collected id column as int64."""
    return table.column(col).to_numpy().astype(np.int64)


def _relabel(labels: DataFrame, remap: DataFrame) -> DataFrame:
    """(v, comp) labels with every comp that remap's (x, p) moves set to p:
    a join, so a small remap broadcasts beside a large label table."""
    moves = remap.select(F.col("x").alias("comp"), "p")
    return labels.join(moves, on="comp", how="left").select(
        "v", F.coalesce("p", "comp").alias("comp")
    )


def _pointer_jump(parent: np.ndarray) -> np.ndarray:
    """A parent array whose pointers form a forest, flattened: every entry
    moved to its tree's root by repeated pointer jumping."""
    while not np.array_equal(jumped := parent[parent], parent):
        parent = jumped
    return parent


def _hook_and_shortcut(
    u: np.ndarray, v: np.ndarray, n: int, budget: Iterable[int]
) -> np.ndarray:
    """Component minima of the graph on dense ids [0, n) with edges (u, v):
    parent[i] is the least id of i's component. Each round every root hooks
    onto the smallest root it touches, full pointer jumping flattens the
    trees, and the edges are relabelled to roots, dropping the dead ones;
    the rounds come from ``budget`` (checkpoint.rounds), which runs out
    only while edges are still live."""
    parent = np.arange(n)
    for _ in budget if (u != v).any() else ():
        hook = np.arange(n)
        np.minimum.at(hook, u, v)
        np.minimum.at(hook, v, u)
        parent = _pointer_jump(hook[parent])
        u, v = parent[u], parent[v]
        live = u != v
        u, v = u[live], v[live]
        if not u.size:
            break
    return parent


def _follow(df: DataFrame, col: str, ptr: DataFrame) -> DataFrame:
    """``df`` with ``col`` moved along ptr's (x, p) pointers where it has
    one, plus ``_to``: the new value, null where nothing moved (a ``_to``
    that ``df`` carries from an earlier call is dropped). A union and
    a window over the key, not a join: Spark estimates a join's size as the
    PRODUCT of its inputs' estimates, and local checkpoints keep their
    plan's estimate, so joining a pointer table with itself once per jump
    squares the estimate each time — its digits double per jump, and
    planning stalls in BigInt arithmetic within a few rounds. A union's
    estimate is a sum. The cost: one task buffers (and spills) all rows of
    a key, as a shuffle join without skew splitting would."""
    df = df.drop("_to")
    rows = df.withColumnRenamed(col, "_k").unionByName(
        ptr.select(F.col("x").alias("_k"), F.col("p").alias("_to")),
        allowMissingColumns=True,
    )
    return (
        rows.withColumn("_row", F.col("_to").isNull())
        .withColumn("_to", F.max("_to").over(Window.partitionBy("_k")))
        .where("_row")
        .select(
            *[F.coalesce("_to", "_k").alias(c) if c == col else c for c in df.columns], "_to"
        )
    )


def connected_components_exact(
    und_edges: DataFrame,
    vertices: DataFrame,
    max_iter: int = 512,
) -> DataFrame:
    """Return (v, comp) where comp is the MIN vertex id in v's component
    (canonical min labels, a unique fixpoint), materialized: a
    one-partition driver-built frame when the edges fit COLLECT_THRESHOLD,
    else a local checkpoint. Callers re-read it without re-running CC.

    und_edges: columns (a, b), a != b. vertices: column (v).

    max_iter bounds hook rounds, distributed and driver rounds together
    (one checkpoint.rounds budget). Exhausting it with edges still live
    WARNS: the labels are then wrong for some vertices.
    """
    spark = vertices.sparkSession
    edges = und_edges.select(F.col("a").alias("x"), F.col("b").alias("y"))
    # one job: the whole edge set when it fits, else a sign that it does not
    t = edges.limit(COLLECT_THRESHOLD + 1).toArrow()
    n_live, owned = t.num_rows, []
    if n_live > COLLECT_THRESHOLD:
        # only the distributed rounds (or a max_iter=0 result) read it
        labels = vertices.select("v").distinct().select("v", F.col("v").alias("comp"))
    # one budget for the distributed and the driver rounds together. A run
    # that exhausts it returns labels that are WRONG for some vertices: this
    # is the golden path the sketch CC is verified against, so it must say so
    budget = rounds(
        "connected_components_exact",
        max_iter,
        "edges between components are still live, so some labels are wrong; raise max_iter",
    )
    try:
        for _ in budget if n_live > COLLECT_THRESHOLD else ():
            # every root hooks onto the smallest root it touches, then full
            # pointer jumping, then the edges move to their endpoints' roots
            sym = edges.unionAll(edges.select(F.col("y").alias("x"), F.col("x").alias("y")))
            hooks = sym.groupBy("x").agg(F.min("y").alias("p")).where(F.col("p") < F.col("x"))
            moved = 1
            while moved:
                hooks, stats = step(_follow(hooks, "p", hooks), moved=F.count("_to"))
                owned.append(hooks)
                moved = stats["moved"]
            edges, stats = step(
                _follow(_follow(edges, "x", hooks), "y", hooks)
                .where(F.col("x") != F.col("y"))
                .select(F.least("x", "y").alias("x"), F.greatest("x", "y").alias("y"))
                .distinct(),
                n=F.count(F.lit(1)),
            )
            owned.append(edges)
            n_live = stats["n"]
            labels = _relabel(labels, hooks)
            if n_live <= COLLECT_THRESHOLD:
                break
        if n_live <= COLLECT_THRESHOLD:
            x, y = (_ids(edges.toArrow() if owned else t, c) for c in ("x", "y"))
            vids = np.unique(_ids(vertices.select("v").toArrow(), "v")) if not owned else x[:0]
            ids = np.unique(np.concatenate([vids, x, y]))
            u, v = np.searchsorted(ids, x), np.searchsorted(ids, y)
            comp = ids[_hook_and_shortcut(u, v, ids.size, budget)]
            if not owned:
                comp = comp[np.searchsorted(ids, vids)]
                labels = _local_frame(spark, {"v": vids, "comp": comp}, "v long, comp long")
            else:
                moved = comp != ids
                remap = {"x": ids[moved], "p": comp[moved]}
                labels = _relabel(labels, _local_frame(spark, remap, "x long, p long"))
        if owned:
            labels, _ = step(labels)
    finally:
        # the labels checkpoint no longer reads them; on an error, nothing does
        for df in owned:
            _release(df)
    return labels
