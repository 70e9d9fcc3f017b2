"""Boruvka emulation over l0-sketch supernodes: CC, k-spanning-forests, point queries.

The reference's query paths:
* CC (/root/reference/src/graph_distrib_update.cpp:105-154): <= O(log n)
  rounds; per round sample one incident (cut) edge per live supernode, union
  endpoint components in a DSU, merge the supernodes of each component
  linearly, repeat.
* k spanning forests (:156-209): k Boruvka passes; after each pass the
  forest's edges are RE-INSERTED into both endpoint supernodes — XOR is
  self-inverse, so re-insertion deletes them from the linear sketch — and the
  next pass extracts an edge-disjoint forest. The union of k forests is a
  k-edge-connectivity certificate (test /root/reference/test/k_connectivity_test.cpp:6-30).
* point query (:211-258): root comparison on the cached DSU.

Spark rendition: supernodes live in a DISTRIBUTED, IMMUTABLE columnar slice
table — one binary column per sketch group, built once and never rewritten
(the reference holds all supernodes on rank 0 — its acknowledged ceiling,
which this removes). As in the reference, CC and every k-forest pass run the
SAME Boruvka emulation, _boruvka_passes: every pass projects only the groups
it consumes (column pruning), re-folds vertex slices under the current labels
and l0-samples the folds; only the vid->comp map updates per pass. Up to
COLLECT_THRESHOLD vertex ids that map is a dense array on the driver beside
one DSU, as the reference keeps its DSU on the main node — each pass is then
one Spark job, with the labels shipped inside the fold kernel. Above it the
map stays distributed and is joined per pass; sampled cut edges merge via the
driver DSU up to COLLECT_THRESHOLD samples; above it the Boruvka min-edge
rule keeps one sampled edge per component and the engine's one exact-CC
kernel (graph/cc.py: hook-and-shortcut, finished on the driver once its
live edges fit) merges their component pairs.
Each Boruvka round consumes one sketch GROUP (one-shot sampling), so k-forest
extraction budgets per_pass groups per pass. Batch CC (_cc_rounds), the
k-forests (k_spanning_forests) and the streaming in-stream queries
(streaming/ingest reuses _cc_rounds on its committed state) all call it. A
stream state small enough to live on the driver reaches the loop as an Arrow
table, not a DataFrame: each pass then runs the fold kernel in-process
(build.relabel_fold_kernel) and the query runs no Spark job.

Component labels are canonical min-vertex-ids — exactly comparable to the
min-label SQL oracle.
"""

from __future__ import annotations

import math
import time
import warnings
from functools import reduce

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from landscape_spark.checkpoint import _release, step
from landscape_spark.graph.cc import (
    COLLECT_THRESHOLD,
    _local_frame,
    _relabel,
    connected_components_exact,
)
from landscape_spark.sketch.build import (
    build_group_slices,
    fold_sample,
    relabel_fold,
    relabel_fold_kernel,
    sketch_partitions,
    slice_params,
    xor_merge_slices,
)
from landscape_spark.sketch.l0 import SketchParams

# Sketch groups sampled by a pass loop's first pass; later passes sample 2.
FIRST_PASS_GROUPS = 4

_SAMPLES = pa.schema([("ckey", pa.int64()), ("u", pa.int64()), ("v", pa.int64())])


class DSU:
    """Union-find with union-by-min (roots are component minima)."""

    def __init__(self) -> None:
        self.parent: dict[int, int] = {}

    def find(self, x: int) -> int:
        # iterative with full path compression: recursion would blow the
        # interpreter stack on adversarial union chains near the
        # COLLECT_THRESHOLD-sized sample sets
        root = x
        while self.parent.get(root, root) != root:
            root = self.parent[root]
        while self.parent.get(x, x) != root:
            self.parent[x], x = root, self.parent[x]
        return root

    def union(self, a: int, b: int) -> int | None:
        """Join a's and b's sets; return the root absorbed (the larger), or
        None when they were already one set."""
        ra, rb = self.find(a), self.find(b)
        if ra == rb:
            return None
        lo, hi = (ra, rb) if ra < rb else (rb, ra)
        self.parent[hi] = lo
        return hi


def _forest_frame(
    spark: SparkSession, pairs: list[tuple[int, int]], kept: list[DataFrame]
) -> DataFrame:
    """One (a, b) DataFrame over a pass loop's forest edges: the
    driver-merged pairs plus the distributed passes' min-edge frames."""
    ab = np.asarray(pairs, dtype=np.int64).reshape(-1, 2)
    merged = _local_frame(spark, {"a": ab[:, 0], "b": ab[:, 1]}, "a long, b long")
    return reduce(DataFrame.unionAll, [f.select("a", "b") for f in kept], merged)


def _dsu_merge(
    dsu: DSU,
    gi: np.ndarray,
    u: np.ndarray,
    v: np.ndarray,
    comp_u: np.ndarray,
    comp_v: np.ndarray,
    pairs: list[tuple[int, int]],
) -> list[int]:
    """The driver merge of one pass's sampled cut edges: union their
    endpoint components in (group, lo, hi) order — union-by-min makes the
    roots the component minima whatever the order — and append each edge
    that merges two components to ``pairs`` as (lo, hi). Returns the
    components absorbed, one per merging edge."""
    lo, hi = np.minimum(u, v), np.maximum(u, v)
    order = np.lexsort((hi, lo, gi))
    absorbed: list[int] = []
    for a, b, cu, cv in zip(
        lo[order].tolist(), hi[order].tolist(), comp_u[order].tolist(), comp_v[order].tolist()
    ):
        gone = dsu.union(cu, cv)
        if gone is not None:
            absorbed.append(gone)
            pairs.append((a, b))
    return absorbed


def _driver_samples(
    slices: DataFrame | pa.Table,
    cols: list[str],
    sp: SketchParams,
    labels: np.ndarray,
    n_vids: int,
    n_live: int,
    num_partitions: int,
    identity: bool,
) -> tuple[np.ndarray, ...]:
    """One driver-mode pass in one Spark job: relabel_fold keys every
    vertex slice of ``cols`` by its component from ``labels``, folds and
    samples; the samples come back through Arrow and resolve to components
    by gathers from ``labels``. Returns (gi, u, v, comp_u, comp_v) of the
    samples that cut two components.

    A driver-held Arrow table runs the same kernel in-process, no Spark job.
    When the rows the pass reads fit one task (sketch_partitions), it runs
    as one coalesced task with no shuffle. Otherwise the identity pass
    samples straight off the stored slice partitions (every key is one
    vertex's), and later passes fold map-side, then shuffle into
    sketch_partitions(live components x groups) tasks for fold_sample."""
    j = len(cols)
    if isinstance(slices, pa.Table):
        batches = slices.select(["vid", *cols]).to_batches()
        t = pa.Table.from_batches(relabel_fold_kernel(batches, "vid", cols, sp, labels), _SAMPLES)
    else:
        src = slices.select("vid", *cols)
        if sketch_partitions(n_vids * j, sp.nbytes, num_partitions) == 1:
            out = relabel_fold(src.coalesce(1), sp, labels)
        elif identity:
            out = relabel_fold(src, sp)
        else:
            parts = sketch_partitions(n_live * j, sp.nbytes, num_partitions)
            out = fold_sample(relabel_fold(src, sp, labels, final=False), "ckey", sp, parts)
        t = out.toArrow()
    ckey, u, v = (t.column(c).to_numpy() for c in ("ckey", "u", "v"))
    comp_u, comp_v = labels[u], labels[v]
    cut = comp_u != comp_v
    return ckey[cut] % j, u[cut], v[cut], comp_u[cut], comp_v[cut]


def _distributed_samples(
    slices: DataFrame,
    vmap: DataFrame,
    cols: list[str],
    sp: SketchParams,
    n_live: int,
    num_partitions: int,
    identity: bool,
) -> tuple[DataFrame, int]:
    """One distributed-mode pass's sampled cut edges as a local checkpoint
    of (gi, u, v, comp_u, comp_v) rows, and their count. The identity pass
    samples straight off the vertex rows; later passes join the vid->comp
    map to the vertex slices, fold map-side (relabel_fold on the comp
    column) and fuse the final fold with sampling in one shuffle."""
    j = len(cols)
    if identity:
        resolved = relabel_fold(slices.select("vid", *cols), sp).select(
            (F.col("ckey") % j).alias("gi"),
            "u",
            "v",
            F.col("u").alias("comp_u"),
            F.col("v").alias("comp_v"),
        )
    else:
        keyed = slices.select(F.col("vid").alias("v"), *cols).join(vmap, on="v")
        samples = fold_sample(
            relabel_fold(keyed.select("comp", *cols), sp, final=False),
            "ckey",
            sp,
            sketch_partitions(n_live * j, sp.nbytes, num_partitions),
        )
        u_map = vmap.select(F.col("v").alias("u"), F.col("comp").alias("comp_u"))
        v_map = vmap.select(F.col("v").alias("v2"), F.col("comp").alias("comp_v"))
        resolved = (
            samples.join(u_map, on="u")
            .join(v_map, samples.v == v_map.v2)
            .select((F.col("ckey") % j).alias("gi"), "u", "v", "comp_u", "comp_v")
            .where(F.col("comp_u") != F.col("comp_v"))
        )
    # materialize the (tiny: <= live components x j rows) sample set ONCE,
    # then read it from the checkpoint — limit().collect() would re-run the
    # whole narrow sampling pipeline in incremental waves. The row count
    # rides the checkpoint action via observe() (integer — exact under any
    # task merge order), saving one probe job per pass.
    resolved, stats = step(resolved, n=F.count(F.lit(1)))
    return resolved, stats["n"]


def _min_edges(resolved: DataFrame) -> tuple[DataFrame, int]:
    """Boruvka min-edge rule over one pass's sampled cut edges, nothing
    collected: every component keeps its least (a, b) incident sample. The
    kept edges are acyclic, so each merges two components; returns them as
    a local checkpoint of (a, b, comp_u, comp_v) rows, and their count."""
    ek = resolved.select(
        F.least("u", "v").alias("a"),
        F.greatest("u", "v").alias("b"),
        "comp_u",
        "comp_v",
    )
    sym = ek.select(F.col("comp_u").alias("c"), "a", "b", "comp_u", "comp_v").unionAll(
        ek.select(F.col("comp_v").alias("c"), "a", "b", "comp_u", "comp_v")
    )
    kept, stats = step(
        sym.groupBy("c")
        .agg(F.min_by(F.struct("a", "b", "comp_u", "comp_v"), F.struct("a", "b")).alias("e"))
        .select("e.a", "e.b", "e.comp_u", "e.comp_v")
        .distinct(),
        n=F.count(F.lit(1)),
    )
    return kept, stats["n"]


def _boruvka_passes(
    spark: SparkSession,
    slices: DataFrame | pa.Table,
    vmap: DataFrame | None,
    params: SketchParams,
    start_group: int,
    end_group: int,
    num_partitions: int,
    on_round=None,
    ckpt=None,
    collect_threshold: int = COLLECT_THRESHOLD,
    slices_path: str | None = None,
) -> tuple[DataFrame | pa.Table, tuple[list[tuple[int, int]], list[DataFrame]], int]:
    """The one Boruvka pass loop over the columnar slice table, consuming
    sketch groups [start_group, end_group). It serves CC (_cc_rounds) and
    every k-forest pass (k_spanning_forests).

    Per PASS: project the pass's group columns (column pruning ships only
    those), key each vertex slice by comp*j+i under the CURRENT component
    labels, XOR-fold, l0-sample one cut edge per (component, group), merge
    the sampled edges and relabel. ``vmap=None`` means the identity map
    over ``slices.vid``, as does any map at ``start_group == 0``. Vertex
    sketches are built ONCE and never rewritten.

    Where the vid->comp map lives is chosen once per call from
    ``params.n`` (every vid is below it, build.edge_updates), at no Spark
    cost:

    * ``params.n <= collect_threshold``: a dense int64 array on the driver,
      beside one union-find for the whole call. One vid collect starts the
      call; each pass is ONE Spark job (_driver_samples — the array ships
      in relabel_fold's closure), and the relabel is one numpy gather.
    * above it, a distributed map: each pass joins it to the vertex slices,
      folds map-side and fuses the final fold with l0 sampling in one
      shuffle (sized from live components x groups x slice bytes, capped
      at ``num_partitions``, build.sketch_partitions), then rewrites it
      as a local checkpoint (checkpoint.step, freeing the pass's samples
      and the map it replaces, never a caller's). An identity first pass
      samples straight off the vertex rows (no fold, no shuffle, no joins). Sampled edges merge
      through the driver union-find while they number at most
      ``collect_threshold``; above that, the Boruvka min-edge rule keeps
      one sampled edge per component (acyclic by the max-edge-in-cycle
      argument) and connected_components_exact over their component
      pairs (graph/cc.py) gives the merged components' min labels.

    A driver-held Arrow slice table always takes the first placement, with
    no vid collect and each pass in-process (_driver_samples): no Spark job.

    Either way the driver merge applies the samples in (group, lo, hi)
    order (_dsu_merge), and the accepted edges are a spanning forest of the
    merges.

    Schedule: the first pass samples FIRST_PASS_GROUPS groups, later passes
    2 (groups 2..j of a pass sample at the pass-start granularity, so some of
    their samples land inside freshly-merged components and union as no-ops,
    for j-times fewer Spark jobs). A RESERVE schedule guards the tail: once
    the remaining budget is within ceil(log2(live))+1 groups (one
    guaranteed-halving group per remaining doubling) passes drop to one
    group, as do all passes above collect_threshold live components. If the
    budget runs out while the last pass still sampled cut edges and the
    exact distinct-component count is above 1, the result is UNCONFIRMED and
    a RuntimeWarning says so (sampling failures beyond the census-calibrated
    rate) instead of silently returning an under-merged map or a
    non-maximal forest.

    Returns (vid->comp map, forest edges, groups consumed). The map is a
    one-partition frame built from the driver's array (_local_frame), an
    Arrow table when the slices were one, or above the threshold a local
    checkpoint. The forest edges are the driver-merged (a, b) pairs plus
    the checkpointed (a, b, comp_u, comp_v) min-edge frames of the
    distributed passes, which stay persisted until the caller frees them
    (checkpoint._release)."""
    sp = slice_params(params)
    caller_vmap = vmap
    identity = vmap is None or start_group == 0
    held = isinstance(slices, pa.Table)
    driver = held or params.n <= collect_threshold
    if driver:
        vids = (slices if held else slices.select("vid").toArrow()).column("vid").to_numpy()
        vids = np.sort(vids)
        labels = np.arange(params.n, dtype=np.int64)
        if not identity:
            t = vmap.toArrow()
            labels[t.column("v").to_numpy()] = t.column("comp").to_numpy()
        # exact live-component count: at 1 the graph is fully connected and
        # NO cut edge can exist — converged without paying a confirm pass
        # (graphs with >1 final component converge via the empty-sample break)
        n_live = np.unique(labels[vids]).size
    else:
        if vmap is None:
            vmap, _ = step(slices.select(F.col("vid").alias("v"), F.col("vid").alias("comp")))
        # slices is cached/checkpointed, so the count is nearly free; after
        # a resume it starts from the vertex count (an overestimate), which
        # only delays the n_live == 1 shortcut — never wrong
        n_live = slices.count()
    dsu = DSU()
    pairs: list[tuple[int, int]] = []
    kept_parts: list[DataFrame] = []
    g = start_group
    converged = n_live <= 1
    while g < end_group and not converged:
        t0 = time.time()
        if n_live > collect_threshold:
            j = 1  # distributed passes contract strictly one group at a time
        else:
            j = FIRST_PASS_GROUPS if g == start_group else 2
            if end_group - g <= math.ceil(math.log2(max(n_live, 2))) + 1:
                j = 1
        gs = list(range(g, min(g + j, end_group)))
        cols = [f"g{gg}" for gg in gs]
        first = g == start_group and identity
        if driver:
            samples = _driver_samples(
                slices, cols, sp, labels, len(vids), n_live, num_partitions, first
            )
            n_samp = len(samples[0])
        else:
            resolved, n_samp = _distributed_samples(
                slices, vmap, cols, sp, n_live, num_partitions, first
            )
        if n_samp == 0:
            if not driver:
                _release(resolved)
            if on_round is not None:
                on_round(g, 0, False)
            converged = True  # no live component holds a cut edge
            break
        if driver or n_samp <= collect_threshold:
            if not driver:
                t = resolved.toArrow()
                samples = [t.column(c).to_numpy() for c in ("gi", "u", "v", "comp_u", "comp_v")]
            absorbed = np.asarray(_dsu_merge(dsu, *samples, pairs), dtype=np.int64)
            roots = np.asarray([dsu.find(c) for c in absorbed.tolist()], dtype=np.int64)
            n_merged = len(absorbed)
            if driver:
                remap = np.arange(params.n, dtype=np.int64)
                remap[absorbed] = roots
                labels = remap[labels]
            else:
                remap = _local_frame(spark, {"x": absorbed, "p": roots}, "x long, p long")
        else:
            kept, n_merged = _min_edges(resolved)
            kept_parts.append(kept)
            # the merged components' min labels: exact CC over the kept
            # component pairs (materialized, so the join reads it once)
            comps = kept.select(F.col("comp_u").alias("a"), F.col("comp_v").alias("b"))
            ends = comps.select(F.col("a").alias("v")).unionAll(comps.select("b"))
            remap = connected_components_exact(comps, ends).select(
                F.col("v").alias("x"), F.col("comp").alias("p")
            )
        if not driver:
            # the samples, the remap and the replaced map (unless the
            # caller's) are read by nothing once the new map is materialized
            vmap, _ = step(
                _relabel(vmap, remap),
                release=[f for f in (resolved, remap, vmap) if f is not caller_vmap],
            )
        if on_round is not None:
            on_round(g, n_samp, n_merged > 0)
        g += len(gs)
        n_live -= n_merged
        converged = n_live <= 1
        if ckpt is not None:
            if driver:
                vmap = _local_frame(
                    spark, {"v": vids, "comp": labels[vids]}, "v long, comp long"
                )
            dfs = {"vmap": vmap}
            if ckpt.latest_round() is None:
                dfs["slices"] = slices
            slices_path = slices_path or f"{ckpt.round_dir(gs[0])}/slices.parquet"
            ckpt.save_round(
                gs[0],
                dfs,
                {
                    "next_group": g,
                    "slices_path": slices_path,
                    "params": {
                        "n": params.n,
                        "rounds": params.rounds,
                        "cols": params.cols,
                        "depths": params.depths,
                        "seed": params.seed,
                    },
                },
                {"samples": n_samp, "round_sec": round(time.time() - t0, 3)},
            )
    if not converged:
        # n_live can overestimate after a distributed resume, so confirm with
        # the exact distinct-component count before alarming — a graph that
        # finished on the last budgeted group with every vertex in one
        # component is NOT under-merged
        if driver:
            n_true = np.unique(labels[vids]).size
        else:
            n_true = vmap.select("comp").distinct().count()
        if n_true > 1:
            warnings.warn(
                f"sketch group budget exhausted after groups {start_group}.."
                f"{end_group - 1} with {n_true} components live and cut edges "
                "still sampled — the returned map and forest are UNCONFIRMED "
                "(complete if the graph is disconnected, or under-merged); "
                "raise SketchParams.rounds (extra_rounds) or check the "
                "sampling-failure census calibration",
                RuntimeWarning,
                stacklevel=3,
            )
    if driver:
        vc = {"v": vids, "comp": labels[vids]}
        vmap = pa.table(vc) if held else _local_frame(spark, vc, "v long, comp long")
    return vmap, (pairs, kept_parts), g - start_group


def _cc_rounds(
    spark: SparkSession,
    slices: DataFrame | pa.Table,
    vmap: DataFrame | None,
    params: SketchParams,
    start_group: int = 0,
    num_partitions: int = 32,
    on_round=None,
    ckpt=None,
    collect_threshold: int = COLLECT_THRESHOLD,
    slices_path: str | None = None,
) -> DataFrame | pa.Table:
    """Boruvka CC over the columnar slice table: _boruvka_passes from
    ``start_group`` to the end of the group budget, returning only the
    vid->comp map (a one-partition driver-built frame, an Arrow table for
    an Arrow slice table, or above ``collect_threshold`` a local
    checkpoint). ``vmap=None`` is the identity map over ``slices.vid``; a
    caller-built map at ``start_group == 0`` is taken to be that identity
    and never read. With ``ckpt`` (slices a DataFrame), every pass persists
    (vmap, next group) and the once-written slice table for
    resume_connected_components."""
    vmap, (_, kept), _ = _boruvka_passes(
        spark,
        slices,
        vmap,
        params,
        start_group,
        params.rounds,
        num_partitions,
        on_round,
        ckpt,
        collect_threshold,
        slices_path,
    )
    for frame in kept:  # min-edge frames: the forest's, not the map's
        _release(frame)
    return vmap


def connected_components_sketch(
    spark: SparkSession,
    und_edges: DataFrame,
    n: int,
    params: SketchParams | None = None,
    num_partitions: int = 32,
    on_round=None,
    checkpoint_dir: str | None = None,
    collect_threshold: int = COLLECT_THRESHOLD,
) -> DataFrame:
    """Return (v, comp), comp = min vertex id of v's component. Isolated
    vertices never enter the sketch table; extend with components_with_isolated.
    With checkpoint_dir, every round persists state + lineage (resumable via
    resume_connected_components). ``num_partitions`` caps every sketch
    shuffle (build and per-pass fold); each runs as many partitions as its
    sketch bytes need (build.sketch_partitions), so a small graph runs one
    Python task per stage."""
    params = params or SketchParams.for_graph(n)
    ckpt = None
    if checkpoint_dir is not None:
        from landscape_spark.checkpoint import RoundCheckpointer

        ckpt = RoundCheckpointer(spark, checkpoint_dir, "boruvka_cc")
        if ckpt.latest_round() is not None:
            # a fresh run on a dir holding a previous run would skip saving
            # its slice table (the first-save-only rule) while pointing new
            # rounds at a slices_path that was never written — resume would
            # then fail or silently mix two runs' state
            raise ValueError(
                f"{checkpoint_dir} already holds a boruvka_cc run; resume it "
                "with resume_connected_components or use a fresh directory"
            )
    # persist() (in-memory COLUMNAR cache), not localCheckpoint (row blocks):
    # every pass projects only its groups' columns, and the columnar cache
    # actually prunes them — a checkpointed row store would deserialize the
    # full rounds-wide row every pass
    slices = build_group_slices(und_edges, params, num_partitions).persist()
    slices.count()
    # the slice table has exactly one row per edge-incident vertex, so the
    # identity label map (vmap=None) needs no distinct over the edge list
    vmap = _cc_rounds(
        spark,
        slices,
        None,
        params,
        num_partitions=num_partitions,
        on_round=on_round,
        ckpt=ckpt,
        collect_threshold=collect_threshold,
    )
    # the returned map does not read the slices — release the slice cache
    # instead of pinning O(n x rounds x slice-bytes) until session end
    slices.unpersist()
    return vmap


def resume_connected_components(
    spark: SparkSession,
    checkpoint_dir: str,
    num_partitions: int = 32,
    on_round=None,
) -> DataFrame:
    """Resume a checkpointed Boruvka CC mid-iteration: load the latest round's
    (vmap, next group) plus the once-written slice table and continue to
    convergence."""
    from landscape_spark.checkpoint import RoundCheckpointer

    ckpt = RoundCheckpointer(spark, checkpoint_dir, "boruvka_cc")
    latest = ckpt.latest_round()
    if latest is None:
        raise ValueError(f"no completed rounds under {checkpoint_dir}")
    dfs, lineage = ckpt.load_round(latest)
    p = lineage["state"]["params"]
    params = SketchParams(
        n=p["n"], rounds=p["rounds"], cols=p["cols"], depths=p["depths"], seed=p["seed"]
    )
    slices_path = lineage["state"]["slices_path"]
    # both stay parquet scans: every pass reads only its groups' columns,
    # and a driver-owned label map reads the saved vmap once
    return _cc_rounds(
        spark,
        spark.read.parquet(slices_path),
        dfs["vmap"],
        params,
        start_group=lineage["state"]["next_group"],
        num_partitions=num_partitions,
        on_round=on_round,
        ckpt=ckpt,
        slices_path=slices_path,
    )


def k_spanning_forests(
    spark: SparkSession,
    und_edges: DataFrame,
    n: int,
    k: int,
    seed: int = 42,
    num_partitions: int = 32,
) -> DataFrame:
    """k edge-disjoint spanning forests (k-edge-connectivity certificate).

    Returns DataFrame (forest_id int, a long, b long). Forest t is a spanning
    forest of the graph minus forests 0..t-1 (XOR re-insertion deletes used
    edges from the linear sketches, graph_distrib_update.cpp:180-183).
    Sketch-space budget scales with k, mirroring sketches_factor(k)
    (graph_distrib_update.cpp:11-14,25). ``num_partitions`` caps every
    sketch shuffle, as in connected_components_sketch.
    """
    lg = max(1, int(np.ceil(np.log2(max(n, 2)))))
    # per-pass budget = the census-calibrated CC budget (log2(n) + retry
    # slack; BENCH/CENSUS.md) — each forest pass is one CC run on the
    # remaining graph. cols=3 is the calibrated geometry. The earlier
    # 2*log2(n)+4 / cols=4 sizing doubled sketch bytes (and build + merge +
    # checkpoint traffic) for slack the census shows is never used; the
    # reserve schedule + exhaustion warning guard the tail.
    per_pass = lg + 6
    params = SketchParams(n=n, rounds=k * per_pass, cols=3, depths=lg + 4, seed=seed)
    # columnar slice layout, like the flagship CC path: built once, persisted
    # (the in-memory columnar cache prunes to the consumed groups' columns
    # per pass), never rematerialized per round
    slices = build_group_slices(und_edges, params, num_partitions).persist()
    slices.count()
    forests: list[DataFrame] = []
    group_cursor = 0
    for t in range(k):
        vmap, (pairs, kept), used = _boruvka_passes(
            spark,
            slices,
            None,
            params,
            group_cursor,
            group_cursor + per_pass,
            num_partitions,
        )
        _release(vmap)  # the forest does not read the pass's label map
        group_cursor += used
        if not pairs and not kept:
            break  # no edge left in the remaining graph
        forest = _forest_frame(spark, pairs, kept)
        forests.append(forest.select(F.lit(t).cast("int").alias("forest_id"), "a", "b"))
        if t == k - 1:
            break
        # delete forest edges: XOR their codes back into BOTH endpoint
        # supernodes (self-inverse). Re-INSERTING an edge IS its deletion in
        # a linear sketch, so the delta table is just another distributed
        # slice build over the forest edges — O(forest) stays on executors
        # (the reference XORs them on rank 0, graph_distrib_update.cpp:180-183).
        delta = build_group_slices(forest, params, num_partitions)
        # persist (MEMORY_AND_DISK), not localCheckpoint: the columnar cache
        # prunes to each pass's consumed group columns, which checkpointed
        # row blocks cannot. The lineage chains at most k-1 merges — under
        # memory pressure partitions SPILL rather than recompute, and only
        # executor loss pays the O(k)-deep recompute (k <= 8 here; a
        # cluster run wanting durability swaps this persist for the
        # streaming path's parquet state swap).
        new_slices = xor_merge_slices(
            slices.unionAll(delta), "vid", params, num_partitions
        ).persist()
        new_slices.count()
        slices.unpersist()
        slices = new_slices
    # the forests are driver-side pairs and checkpointed frames — nothing
    # below reads slices
    slices.unpersist()
    if not forests:
        empty = np.empty(0, dtype=np.int64)
        return _local_frame(
            spark,
            {"forest_id": empty.astype(np.int32), "a": empty, "b": empty},
            "forest_id int, a long, b long",
        )
    return reduce(DataFrame.unionAll, forests)


def components_with_isolated(
    spark: SparkSession, vmap: DataFrame, vertices: DataFrame
) -> DataFrame:
    """Extend the edge-incident vid->comp map to all vertices (isolated
    vertices are singleton components)."""
    return vertices.join(vmap, on="v", how="left").select(
        "v", F.coalesce("comp", F.col("v")).alias("comp")
    )


def point_to_point_query(cc_result: DataFrame, a: int, b: int) -> bool:
    """Connectivity of two vertices from a cached CC result (the reference's
    DSU fast path, graph_distrib_update.cpp:211-226). Vertices absent from
    the map (isolated — CC maps may cover edge-incident vertices only) are
    their own singleton components, same fallback as batched_reachability:
    (present, absent) is disconnected and (v, v) is always connected."""
    if a == b:
        return True
    rows = {r.v: r.comp for r in cc_result.where(F.col("v").isin([a, b])).collect()}
    return rows.get(a, a) == rows.get(b, b)


def batched_reachability(cc_result: DataFrame, pairs: DataFrame) -> DataFrame:
    """(a, b, connected): semi-join style batched point queries against a
    cached CC result ('Batched Reachability',
    /root/reference/plotting/R_scripts/dsu_query_plot.R:20)."""
    ca = cc_result.select(F.col("v").alias("a"), F.col("comp").alias("comp_a"))
    cb = cc_result.select(F.col("v").alias("b"), F.col("comp").alias("comp_b"))
    return (
        pairs.join(ca, on="a", how="left")
        .join(cb, on="b", how="left")
        .select(
            "a",
            "b",
            (
                F.coalesce("comp_a", F.col("a")) == F.coalesce("comp_b", F.col("b"))
            ).alias("connected"),
        )
    )
