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
and l0-samples the folds; only the vid->comp map updates per pass. That map
is a dense array on the driver, and the sampled cut edges merge there in one
numpy forest kernel (_spanning_forest), as the reference keeps its DSU on
the main node — each pass is one Spark job, with the labels shipped inside
the fold kernel. A first pass's merge peaks near 245 driver bytes per
vertex id (labels, vids, four groups of samples and the kernel's
temporaries, traced at 1.075M ids), against the cluster's
build.slice_row_bytes per vertex (32832 at n = 2M); an id space too large
for the driver fails in numpy's allocation.
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

from landscape_spark.graph.cc import _local_frame, _pointer_jump
from landscape_spark.session import local_parallelism
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


def _spanning_forest(
    gi: np.ndarray, u: np.ndarray, v: np.ndarray, comp_u: np.ndarray, comp_v: np.ndarray
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """The driver merge of one pass's sampled cut edges (group gi, endpoints
    u, v in components comp_u != comp_v): the minimum spanning forest of the
    component multigraph under the key (gi, lo, hi) — Kruskal's forest in
    that order, found by vectorized Boruvka over the edges' ranks. Each
    round every root takes its least-rank live edge; on a mutual pick the
    smaller root stays the root; pointer jumping flattens the trees.

    Returns the forest's (lo, hi) pairs as an (m, 2) array in rank order,
    every component met, and each one's root: the least component id of
    its merged group. The caller's arrays stay as they are; _merge_samples
    is the same merge over a list it empties."""
    return _merge_samples([gi, u, v, comp_u, comp_v])


def _merge_samples(samples: list[np.ndarray]) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """_spanning_forest over ``samples`` = [gi, u, v, comp_u, comp_v],
    which it empties: each input is gathered into rank order once and
    dropped, so a caller that hands over its only references (the pass
    loop does) frees the inputs while the merge runs. Component ids are
    labels, non-negative and below the id space, so they compact through a
    dense table over [0, max id] instead of a sort. What the rounds keep of
    sample size is the endpoints (lo, hi) in rank order, and the live
    edges' ranks and their ends' roots (ra, rb)."""
    gi, u, v, comp_u, comp_v = samples
    samples.clear()
    lo, hi = np.minimum(u, v), np.maximum(u, v)
    del u, v
    order = np.lexsort((hi, lo, gi))
    del gi
    lo = lo[order]
    hi = hi[order]
    ra = comp_u[order]
    del comp_u
    rb = comp_v[order]
    del comp_v, order
    seen = np.zeros(max(ra.max(initial=-1), rb.max(initial=-1)) + 1, dtype=bool)
    seen[ra] = True
    seen[rb] = True
    ids = np.flatnonzero(seen).astype(ra.dtype, copy=False)
    dense = np.cumsum(seen)
    dense -= 1
    del seen
    ra = dense[ra]
    rb = dense[rb]
    del dense
    none = lo.size  # a rank past every edge's
    parent = np.arange(ids.size)
    taken = np.zeros(none, dtype=bool)
    live = np.arange(none)  # the live edges' ranks, ascending
    while live.size:
        best = np.full(ids.size, none)
        np.minimum.at(best, ra, live)
        np.minimum.at(best, rb, live)
        roots = np.flatnonzero(best < none)
        e = best[roots]
        taken[e] = True
        at = np.searchsorted(live, e)  # e's place among the live edges
        # one of e's two ends is its root, so ra ^ rb ^ roots is the other
        other = ra[at]
        other ^= rb[at]
        other ^= roots
        del at
        hook = (best[other] != e) | (other < roots)
        parent[roots[hook]] = other[hook]
        del best, roots, e, other, hook
        parent = _pointer_jump(parent)
        # one array at a time: no two sample-sized temporaries at once
        ra = parent[ra]
        rb = parent[rb]
        keep = ra != rb
        live = live[keep]
        ra = ra[keep]
        rb = rb[keep]
    low = np.full(ids.size, ids.size)
    np.minimum.at(low, parent, np.arange(ids.size))
    pairs = np.stack([lo[taken], hi[taken]], axis=1)
    return pairs, ids, ids[low[parent]]


def _driver_samples(
    slices: DataFrame | pa.Table,
    cols: list[str],
    sp: SketchParams,
    labels: np.ndarray,
    n_vids: int,
    n_live: int,
    num_partitions: int,
    identity: bool,
) -> list[np.ndarray]:
    """One pass in one Spark job: relabel_fold keys every vertex slice of
    ``cols`` by its component from ``labels``, folds and samples; the
    samples come back through Arrow and resolve to components by gathers
    from ``labels``. Returns the list [gi, u, v, comp_u, comp_v] of the
    samples that cut two components, for _merge_samples to consume.

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
    del t
    cut = labels[u] != labels[v]
    if not cut.all():
        ckey, u, v = ckey[cut], u[cut], v[cut]
    return [ckey % j, u, v, labels[u], labels[v]]


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
    slices_path: str | None = None,
) -> tuple[DataFrame | pa.Table, np.ndarray, int]:
    """The one Boruvka pass loop over the columnar slice table, consuming
    sketch groups [start_group, end_group). It serves CC (_cc_rounds) and
    every k-forest pass (k_spanning_forests).

    Per PASS: project the pass's group columns (column pruning ships only
    those), key each vertex slice by comp*j+i under the CURRENT component
    labels, XOR-fold, l0-sample one cut edge per (component, group), merge
    the sampled edges and relabel. ``vmap=None`` means the identity map
    over ``slices.vid``, as does any map at ``start_group == 0``. Vertex
    sketches are built ONCE and never rewritten.

    The vid->comp map is a dense int64 array on the driver over
    ``[0, params.n)`` (every vid is below ``params.n``,
    build.edge_updates). One vid collect starts the call; each pass is ONE
    Spark job (_driver_samples — the array ships in relabel_fold's
    closure), its samples merge in _merge_samples, and the relabel is one
    numpy gather. A driver-held Arrow slice table needs no vid collect and
    runs each pass in-process: no Spark job.

    The merge keeps Kruskal's forest of the samples in (group, lo, hi)
    order, so the accepted edges are a spanning forest of the merges.

    Schedule: the first pass samples FIRST_PASS_GROUPS groups, later passes
    2 (groups 2..j of a pass sample at the pass-start granularity, so some of
    their samples land inside freshly-merged components and merge nothing,
    for j-times fewer Spark jobs). A RESERVE schedule guards the tail: once
    the remaining budget is within ceil(log2(live))+1 groups (one
    guaranteed-halving group per remaining doubling) passes drop to one
    group. If the budget runs out while the last pass still sampled cut
    edges and more than one component is live, the result is UNCONFIRMED
    and a RuntimeWarning says so (sampling failures beyond the
    census-calibrated rate) instead of silently returning an under-merged
    map or a non-maximal forest.

    Returns (vid->comp map, forest edges, groups consumed). The map is a
    one-partition frame built from the driver's array (_local_frame), or an
    Arrow table when the slices were one. The forest edges are an (m, 2)
    int64 array of (a, b) pairs, a < b, in merge order."""
    sp = slice_params(params)
    identity = vmap is None or start_group == 0
    held = isinstance(slices, pa.Table)
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
    forest = [np.empty((0, 2), dtype=np.int64)]
    g = start_group
    converged = n_live <= 1
    while g < end_group and not converged:
        t0 = time.time()
        j = FIRST_PASS_GROUPS if g == start_group else 2
        if end_group - g <= math.ceil(math.log2(max(n_live, 2))) + 1:
            j = 1
        gs = list(range(g, min(g + j, end_group)))
        cols = [f"g{gg}" for gg in gs]
        first = g == start_group and identity
        samples = _driver_samples(
            slices, cols, sp, labels, len(vids), n_live, num_partitions, first
        )
        n_samp = len(samples[0])
        if n_samp == 0:
            if on_round is not None:
                on_round(g, 0, False)
            converged = True  # no live component holds a cut edge
            break
        pairs, comp, root = _merge_samples(samples)
        forest.append(pairs)
        remap = np.arange(params.n, dtype=np.int64)
        remap[comp] = root
        labels = remap[labels]
        if on_round is not None:
            on_round(g, n_samp, len(pairs) > 0)
        g += len(gs)
        n_live -= len(pairs)
        converged = n_live <= 1
        if ckpt is not None:
            vmap = _local_frame(spark, {"v": vids, "comp": labels[vids]}, "v long, comp long")
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
        warnings.warn(
            f"sketch group budget exhausted after groups {start_group}.."
            f"{end_group - 1} with {n_live} components live and cut edges "
            "still sampled — the returned map and forest are UNCONFIRMED "
            "(complete if the graph is disconnected, or under-merged); "
            "raise SketchParams.rounds (extra_rounds) or check the "
            "sampling-failure census calibration",
            RuntimeWarning,
            stacklevel=3,
        )
    vc = {"v": vids, "comp": labels[vids]}
    vmap = pa.table(vc) if held else _local_frame(spark, vc, "v long, comp long")
    return vmap, np.concatenate(forest), g - start_group


def _cc_rounds(
    spark: SparkSession,
    slices: DataFrame | pa.Table,
    vmap: DataFrame | None,
    params: SketchParams,
    start_group: int = 0,
    num_partitions: int | None = None,
    on_round=None,
    ckpt=None,
    slices_path: str | None = None,
) -> DataFrame | pa.Table:
    """Boruvka CC over the columnar slice table: _boruvka_passes from
    ``start_group`` to the end of the group budget, returning only the
    vid->comp map (a one-partition driver-built frame, or an Arrow table
    for an Arrow slice table). ``vmap=None`` is the identity map over
    ``slices.vid``; a caller-built map at ``start_group == 0`` is taken to
    be that identity and never read. With ``ckpt`` (slices a DataFrame),
    every pass persists (vmap, next group) and the once-written slice table
    for resume_connected_components. ``num_partitions`` defaults to
    local_parallelism(spark)."""
    vmap, _, _ = _boruvka_passes(
        spark,
        slices,
        vmap,
        params,
        start_group,
        params.rounds,
        num_partitions or local_parallelism(spark),
        on_round,
        ckpt,
        slices_path,
    )
    return vmap


def connected_components_sketch(
    spark: SparkSession,
    und_edges: DataFrame,
    n: int,
    params: SketchParams | None = None,
    num_partitions: int | None = None,
    on_round=None,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Return (v, comp), comp = min vertex id of v's component. Isolated
    vertices never enter the sketch table; extend with components_with_isolated.
    With checkpoint_dir, every round persists state + lineage (resumable via
    resume_connected_components). ``num_partitions`` caps every sketch
    shuffle (build and per-pass fold); each runs as many partitions as its
    sketch bytes need (build.sketch_partitions), so a small graph runs one
    Python task per stage; it defaults to local_parallelism(spark)."""
    params = params or SketchParams.for_graph(n)
    num_partitions = num_partitions or local_parallelism(spark)
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
    )
    # the returned map does not read the slices — release the slice cache
    # instead of pinning O(n x rounds x slice-bytes) until session end
    slices.unpersist()
    return vmap


def resume_connected_components(
    spark: SparkSession,
    checkpoint_dir: str,
    num_partitions: int | None = None,
    on_round=None,
) -> DataFrame:
    """Resume a checkpointed Boruvka CC mid-iteration: load the latest round's
    (vmap, next group) plus the once-written slice table and continue to
    convergence. ``num_partitions`` defaults to local_parallelism(spark)."""
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
    num_partitions: int | None = None,
) -> DataFrame:
    """k edge-disjoint spanning forests (k-edge-connectivity certificate).

    Returns DataFrame (forest_id int, a long, b long). Forest t is a spanning
    forest of the graph minus forests 0..t-1 (XOR re-insertion deletes used
    edges from the linear sketches, graph_distrib_update.cpp:180-183).
    Sketch-space budget scales with k, mirroring sketches_factor(k)
    (graph_distrib_update.cpp:11-14,25). ``num_partitions`` caps every
    sketch shuffle, as in connected_components_sketch, and defaults to
    local_parallelism(spark).
    """
    num_partitions = num_partitions or local_parallelism(spark)
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
        _, pairs, used = _boruvka_passes(
            spark,
            slices,
            None,
            params,
            group_cursor,
            group_cursor + per_pass,
            num_partitions,
        )
        group_cursor += used
        if not len(pairs):
            break  # no edge left in the remaining graph
        forest = _local_frame(spark, {"a": pairs[:, 0], "b": pairs[:, 1]}, "a long, b long")
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
    # the forests are driver-built frames — nothing below reads slices
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
