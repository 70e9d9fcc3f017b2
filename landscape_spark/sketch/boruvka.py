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
map-side, and fuses the final fold with l0 sampling in one shuffle; only the
tiny vid->comp map updates per pass. Sampled cut edges merge via a driver DSU
under COLLECT_THRESHOLD samples and via the distributed Boruvka min-edge rule
+ large-star/small-star contraction above it (the log-rounds contraction of
"Finding connected components in map-reduce in logarithmic rounds", ICDE'13).
Each Boruvka round consumes one sketch GROUP (one-shot sampling), so k-forest
extraction budgets per_pass groups per pass. Batch CC (_cc_rounds), the
k-forests (k_spanning_forests) and the streaming in-stream queries
(streaming/ingest reuses _cc_rounds on its slice-parquet state) all call it.

Component labels are canonical min-vertex-ids — exactly comparable to the
min-label SQL oracle.
"""

from __future__ import annotations

import math
import time
import warnings
from functools import reduce

import numpy as np
import pandas as _pd
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from landscape_spark.sketch.build import (
    build_group_slices,
    fold_sample,
    sample_vertex_groups,
    sketch_partitions,
    slice_params,
    xor_fold,
    xor_merge_slices,
)
from landscape_spark.sketch.l0 import SketchParams

# Above this many per-round samples the driver DSU is replaced by the
# distributed Boruvka min-edge rule + star contraction (the reference collects
# every sample on rank 0, src/graph_distrib_update.cpp:105-154 — its
# acknowledged ceiling; this removes it).
COLLECT_THRESHOLD = 2_000_000

# Sketch groups sampled by a pass loop's first pass; later passes sample 2.
FIRST_PASS_GROUPS = 4


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

    def union(self, a: int, b: int) -> bool:
        ra, rb = self.find(a), self.find(b)
        if ra == rb:
            return False
        lo, hi = (ra, rb) if ra < rb else (rb, ra)
        self.parent[hi] = lo
        return True


def _star_contraction(pairs: DataFrame) -> DataFrame:
    """Distributed connected components of the (tiny relative to the graph)
    sampled component-pair graph: alternating large-star / small-star
    contraction (Kiveris et al., "Connected Components in MapReduce and
    Beyond", SoCC'14 — public algorithm). Converges in O(log^2) rounds to
    stars centered at each group's minimum label.

    Input: (x, y) component-id pairs, x != y. Output: (old_comp, new_comp)
    for every component whose label changes (roots are omitted — their label
    is already the group minimum). Everything stays distributed; nothing is
    collected to the driver."""
    e = (
        pairs.select(F.least("x", "y").alias("x"), F.greatest("x", "y").alias("y"))
        .distinct()
        .localCheckpoint(eager=True)
    )

    def _stats(df: DataFrame):
        """One-job convergence certificate: (count, sum x, sum y, two
        independently-seeded mod-2^31 hash sums) — an unordered-set
        fingerprint. Distinct edge sets with equal stats need BOTH hash
        sums to collide (~2^-62 per round), the same w.h.p. class as the
        sketches themselves. Mersenne-prime mods keep the ANSI-mode sums
        exact (a raw sum of 64-bit hashes overflows long); overflow needs
        > 2^32 pair rows, far past the contracted-graph regime. Replaces
        the earlier count() + exceptAll() probe (two comparison jobs per
        round) with a single aggregate on the new set; the previous
        round's stats are remembered, not recomputed. A fingerprint MATCH
        is then confirmed by one exact set-equality job at the apparent
        fixpoint (see below), so termination itself is exact — the
        fingerprint only decides when to run the exact check."""
        p = F.lit((1 << 31) - 1)
        r = df.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("x").alias("sx"),
            F.sum("y").alias("sy"),
            F.sum(F.pmod(F.xxhash64("x", "y", F.lit(1)), p)).alias("h1"),
            F.sum(F.pmod(F.xxhash64("x", "y", F.lit(2)), p)).alias("h2"),
        ).first()
        return (r.n, r.sx, r.sy, r.h1, r.h2)

    e_stats = _stats(e)
    while True:
        # large-star: every node links its strictly-larger neighbors to
        # min(N(u) ∪ {u})
        sym = e.select("x", "y").unionAll(
            e.select(F.col("y").alias("x"), F.col("x").alias("y"))
        )
        mins = sym.groupBy("x").agg(F.min("y").alias("mn"))
        mins = mins.select("x", F.least("x", "mn").alias("m"))
        ls = (
            sym.join(mins, on="x")
            .where(F.col("y") > F.col("x"))
            .select(F.col("y").alias("a"), F.col("m").alias("b"))
            .where(F.col("a") != F.col("b"))
        )
        # small-star: direct edges larger->smaller; every node links its
        # smaller neighbors AND itself to the minimum
        d = ls.select(F.greatest("a", "b").alias("u"), F.least("a", "b").alias("v"))
        mins2 = d.groupBy("u").agg(F.min("v").alias("m"))
        ss = (
            d.join(mins2, on="u")
            .select(F.col("v").alias("a"), F.col("m").alias("b"))
            .unionAll(mins2.select(F.col("u").alias("a"), F.col("m").alias("b")))
            .where(F.col("a") != F.col("b"))
            .select(F.least("a", "b").alias("x"), F.greatest("a", "b").alias("y"))
            .distinct()
            .localCheckpoint(eager=True)
        )
        ss_stats = _stats(ss)
        if ss_stats == e_stats:
            # fingerprint says converged: confirm with ONE exact set-equality
            # job (both sides are distinct, so symmetric exceptAll emptiness
            # is set equality). Per-round the cheap fingerprint decides; the
            # exact check runs only at the apparent fixpoint — on the
            # smallest graph of the run — so the ~2^-62 per-round collision
            # can no longer terminate contraction early, at the cost of one
            # extra job per contraction instead of two per round.
            if ss.exceptAll(e).unionAll(e.exceptAll(ss)).isEmpty():
                break
        e, e_stats = ss, ss_stats
    # converged: every edge is (root=min, leaf)
    return e.select(F.col("y").alias("old_comp"), F.col("x").alias("new_comp"))


def _pairs_frame(
    spark: SparkSession, rows: list[tuple[int, int]], names: tuple[str, str]
) -> DataFrame:
    """Driver-side int pairs -> two-column long DataFrame through Arrow
    (pandas): py4j row-by-row conversion of a ~n-sized list would dominate
    the pass."""
    arr = np.asarray(rows, dtype=np.int64).reshape(-1, 2)
    return spark.createDataFrame(
        _pd.DataFrame({names[0]: arr[:, 0], names[1]: arr[:, 1]}),
        f"{names[0]} long, {names[1]} long",
    )


def _forest_frame(
    spark: SparkSession, pairs: list[tuple[int, int]], kept: list[DataFrame]
) -> DataFrame:
    """One (a, b) DataFrame over a pass loop's forest edges: the
    driver-merged pairs plus the distributed passes' min-edge frames."""
    return reduce(
        DataFrame.unionAll,
        [f.select("a", "b") for f in kept],
        _pairs_frame(spark, pairs, ("a", "b")),
    )


def _boruvka_passes(
    spark: SparkSession,
    slices: DataFrame,
    vmap: DataFrame | None,
    params: SketchParams,
    start_group: int,
    end_group: int,
    num_partitions: int,
    on_round=None,
    ckpt=None,
    collect_threshold: int = COLLECT_THRESHOLD,
    slices_path: str | None = None,
) -> tuple[DataFrame, tuple[list[tuple[int, int]], list[DataFrame]], int]:
    """The one Boruvka pass loop over the columnar slice table, consuming
    sketch groups [start_group, end_group). It serves CC (_cc_rounds) and
    every k-forest pass (k_spanning_forests).

    Per PASS: project the pass's group columns (column pruning ships only
    those), stack them to (comp*j+i, slice) rows under the CURRENT component
    labels, map-side partial XOR-fold, one shuffle fusing the final fold with
    l0 sampling, then merge the sampled cut edges and remap the vid->comp
    map. ``vmap=None`` means the identity map over ``slices.vid``; an
    identity first pass (``vmap=None`` or ``start_group == 0``) samples
    straight off the unique vertex rows — no fold, no shuffle, no label
    joins. Vertex sketches are built ONCE and never rewritten; per-pass
    materialization is O(n slice bytes + vmap). Each pass's fold shuffle is
    sized from live components x groups x slice bytes, capped at
    ``num_partitions`` (build.sketch_partitions).

    Merging: under ``collect_threshold`` samples a driver DSU applies the
    samples in (group, a, b) order — union-by-min makes the roots the
    component minima whatever the order. Above it, the Boruvka min-edge rule
    keeps one sampled edge per component (acyclic by the max-edge-in-cycle
    argument) and large-star/small-star contraction merges their components,
    with nothing collected to the driver. Either way the accepted edges are
    a spanning forest of the merges.

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

    Returns (vid->comp map as a local checkpoint, forest edges, groups
    consumed). The forest edges are the driver-merged (a, b) pairs plus the
    checkpointed (a, b, comp_u, comp_v) min-edge frames of the distributed
    passes."""
    sp = slice_params(params)
    identity = vmap is None or start_group == 0
    if vmap is None:
        vmap = slices.select(
            F.col("vid").alias("v"), F.col("vid").alias("comp")
        ).localCheckpoint(eager=True)
    # live-component counter: at 1 the graph is fully connected and NO cut
    # edge can exist — converged without paying a confirm pass (graphs with
    # >1 final component converge via the empty-sample break). slices is
    # cached/checkpointed, so the count is nearly free; after a resume it
    # starts from the vertex count (an overestimate), which only delays this
    # shortcut — never wrong.
    n_live = slices.count()
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
        if g == start_group and identity:
            resolved = sample_vertex_groups(slices, [f"g{gg}" for gg in gs], sp).select(
                "gi", "u", "v", F.col("u").alias("comp_u"), F.col("v").alias("comp_v")
            )
        else:
            stack = F.expr(
                f"stack({len(gs)}, "
                + ", ".join(f"{i}L, g{gg}" for i, gg in enumerate(gs))
                + ") as (gi, sketch)"
            )
            keyed = (
                slices.select(F.col("vid").alias("v"), stack)
                .join(vmap, on="v")
                .select((F.col("comp") * len(gs) + F.col("gi")).alias("ckey"), "sketch")
            )
            samples = fold_sample(
                xor_fold(keyed, "ckey", ["sketch"]),
                "ckey",
                sp,
                sketch_partitions(n_live * len(gs), sp.nbytes, num_partitions),
            )
            u_map = vmap.select(F.col("v").alias("u"), F.col("comp").alias("comp_u"))
            v_map = vmap.select(F.col("v").alias("v2"), F.col("comp").alias("comp_v"))
            resolved = (
                samples.join(u_map, on="u")
                .join(v_map, samples.v == v_map.v2)
                .select((F.col("ckey") % len(gs)).alias("gi"), "u", "v", "comp_u", "comp_v")
                .where(F.col("comp_u") != F.col("comp_v"))
            )
        # materialize the (tiny: <= live components x j rows) sample set ONCE,
        # then collect from the checkpoint — limit().collect() would re-run
        # the whole narrow sampling pipeline in incremental waves. The row
        # count rides the checkpoint action via observe() (integer — exact
        # under any task merge order), saving one probe job per pass.
        obs = Observation()
        resolved = resolved.observe(obs, F.count(F.lit(1)).alias("n")).localCheckpoint(
            eager=True
        )
        n_samp = obs.get["n"]
        if n_samp == 0:
            if on_round is not None:
                on_round(g, 0, False)
            converged = True  # no live component holds a cut edge
            break
        if n_samp <= collect_threshold:
            dsu = DSU()
            touched: set[int] = set()
            for row in sorted(
                resolved.collect(), key=lambda r: (r.gi, min(r.u, r.v), max(r.u, r.v))
            ):
                if dsu.union(row.comp_u, row.comp_v):
                    touched.update((row.comp_u, row.comp_v))
                    pairs.append((min(row.u, row.v), max(row.u, row.v)))
            remap = [(c, dsu.find(c)) for c in sorted(touched) if dsu.find(c) != c]
            n_merged = len(remap)
            remap_df = F.broadcast(_pairs_frame(spark, remap, ("old_comp", "new_comp")))
        else:
            # Boruvka min-edge rule + star contraction: nothing collected
            ek = resolved.select(
                F.least("u", "v").alias("a"),
                F.greatest("u", "v").alias("b"),
                "comp_u",
                "comp_v",
            )
            sym = ek.select(
                F.col("comp_u").alias("c"), "a", "b", "comp_u", "comp_v"
            ).unionAll(ek.select(F.col("comp_v").alias("c"), "a", "b", "comp_u", "comp_v"))
            kobs = Observation()
            kept = (
                sym.groupBy("c")
                .agg(
                    F.min_by(
                        F.struct("a", "b", "comp_u", "comp_v"), F.struct("a", "b")
                    ).alias("e")
                )
                .select("e.a", "e.b", "e.comp_u", "e.comp_v")
                .distinct()
                .observe(kobs, F.count(F.lit(1)).alias("n"))
                .localCheckpoint(eager=True)
            )
            # kept edges are acyclic, so each one merges two components
            n_merged = kobs.get["n"]
            kept_parts.append(kept)
            # the contraction's result is a projection of its checkpointed
            # final edge set — no second checkpoint needed
            remap_df = _star_contraction(
                kept.select(F.col("comp_u").alias("x"), F.col("comp_v").alias("y"))
            )
        vmap = (
            vmap.join(remap_df, vmap.comp == remap_df.old_comp, "left")
            .select("v", F.coalesce("new_comp", "comp").alias("comp"))
            .localCheckpoint(eager=True)
        )
        if on_round is not None:
            on_round(g, n_samp, n_merged > 0)
        g += len(gs)
        n_live -= n_merged
        converged = n_live <= 1
        if ckpt is not None:
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
        # n_live is an upper bound, so confirm with the exact distinct-component
        # count before alarming — a graph that finished on the last budgeted
        # group with every vertex in one component is NOT under-merged
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
    return vmap, (pairs, kept_parts), g - start_group


def _cc_rounds(
    spark: SparkSession,
    slices: DataFrame,
    vmap: DataFrame | None,
    params: SketchParams,
    start_group: int = 0,
    num_partitions: int = 32,
    on_round=None,
    ckpt=None,
    collect_threshold: int = COLLECT_THRESHOLD,
    slices_path: str | None = None,
) -> DataFrame:
    """Boruvka CC over the columnar slice table: _boruvka_passes from
    ``start_group`` to the end of the group budget, returning only the
    vid->comp map (a local checkpoint). ``vmap=None`` is the identity map
    over ``slices.vid``; a caller-built map at ``start_group == 0`` must be
    that identity. With ``ckpt``, every pass persists (vmap, next group) and
    the once-written slice table for resume_connected_components."""
    return _boruvka_passes(
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
    )[0]


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
    # the returned map is checkpointed per round — release the slice cache
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
    slices = spark.read.parquet(slices_path).localCheckpoint(eager=True)
    vmap = dfs["vmap"].localCheckpoint(eager=True)
    return _cc_rounds(
        spark,
        slices,
        vmap,
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
        _, (pairs, kept), used = _boruvka_passes(
            spark,
            slices,
            None,
            params,
            group_cursor,
            group_cursor + per_pass,
            num_partitions,
        )
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
        return spark.createDataFrame([], "forest_id int, a long, b long")
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
