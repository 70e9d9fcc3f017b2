"""Distributed sketch-table build: one shuffle, Arrow-vectorized kernels.

The reference fans per-vertex update batches out to MPI workers which return
sketch deltas merged on the main node (/root/reference/src/worker_cluster.cpp:
80-118, src/work_distributor.cpp:223-255). In Spark the whole pipeline is ONE
declarative job:

    edges --explode endpoints--> (vid, code) --repartition(pmod(vid,P))-->
    mapInArrow(vectorized numpy build) --> sketches(vid, sketch)

    P = sketch_partitions(n, row bytes, num_partitions)
      = min(num_partitions, ceil(n * row bytes / TASK_SKETCH_BYTES))

P is sized from the bytes of sketch rows the stage can produce, not from the
update count: a small sketch table (n=256 is ~2 MB) runs ONE Python task per
stage, and a caller's ``num_partitions`` is the cap (n=2^14, ~280 MB of
sketches, still runs at it). Every sketch shuffle in this module and in the
Boruvka passes is sized the same way; see sketch_partitions.

The repartition is the only shuffle (Spark's sort-based shuffle IS the
reference's guttering buffer tree, graph_distrib_update.cpp:26-32). After it,
every vid's updates are co-located, so each partition emits FINAL supernodes —
no second merge stage. Map-side the kernel XOR-folds duplicates, the exact
analog of worker-side delta generation (partial aggregation).

Unlike the reference — which applies every delta on rank 0 and holds all
supernodes in main-node RAM (src/work_distributor.cpp:99-100, its
acknowledged scalability ceiling) — the sketch table here stays distributed;
merges happen where the data lives.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from landscape_spark.sketch.l0 import (
    SketchParams,
    build_sketches,
    sample_group,
    xor_fold_rows,
)

SKETCH_SCHEMA = "vid long, sketch binary"

# NOTE: per-task fixed cost. Every mapInArrow task pays 0.1-0.2 s before its
# kernel sees a batch, whatever its data: PySpark 4.1's worker calls
# importlib.invalidate_caches() once per task, and under Python 3.11 the
# zipimporters then re-read the directories of pyspark.zip and the spark-core
# jar (0.11-0.21 s per call, timed inside workers). Measured on local[4], a
# 4-vCPU VM: an empty mapInArrow stage takes 0.22-0.27 s as 1 task and
# 0.54-0.67 s as 8; XOR-merging a 2 MiB slice table (n=256) takes 0.37 s as
# 1 task and 0.77 s as 8; a 10.5 MiB one (n=1000) 0.41 s as 1-4 tasks and
# 0.71 s as 8. So a sketch shuffle runs one task per TASK_SKETCH_BYTES of the
# sketch rows it can produce, up to the caller's num_partitions. 8 MiB gives
# 1 task at n=256, 2 at n=1000 (the fastest build there: 0.53 s, against
# 0.63 s as 1 task and 0.79 s as 8) and the cap at n=2^14. In between the
# rounding can land past the core count (n=4096: 7 tasks, two waves; its
# build took 0.80 s against 0.48 s as 4). The bound is on OUTPUT rows
# (distinct keys x row bytes), never on shuffle input: AQE coalescing sizes by
# input, 16 B per update, and could put a sparse 1 MB update shuffle whose
# kernel allocates GBs of sketches into one task.
TASK_SKETCH_BYTES = 8 << 20


def sketch_partitions(rows: int, row_bytes: int, num_partitions: int) -> int:
    """Partition count of a sketch shuffle whose output is at most ``rows``
    sketch rows of ``row_bytes`` each: ceil(rows * row_bytes /
    TASK_SKETCH_BYTES), at least 1 and at most the caller's
    ``num_partitions``."""
    want = -(-rows * row_bytes // TASK_SKETCH_BYTES)
    return max(1, min(num_partitions, want))


def _binary_array(rows: np.ndarray) -> pa.Array:
    """Arrow binary column from a (G, W)-uint64 matrix via direct buffer
    construction — one contiguous copy + an offsets vector, instead of G
    per-row ``tobytes`` objects (measured 30x faster; per-row emission was
    ~33% of a build partition's time)."""
    rows = np.ascontiguousarray(rows)
    g, w = rows.shape
    width = w * 8
    assert g * width < (1 << 31), "partition batch exceeds int32 binary offsets"
    offs = pa.py_buffer(np.arange(g + 1, dtype=np.int32) * width)
    return pa.Array.from_buffers(pa.binary(), g, [None, offs, pa.py_buffer(rows.tobytes())])


def _binary_matrix(a: pa.Array) -> np.ndarray:
    """(N, W)-uint64 matrix from an Arrow binary column of FIXED-width values
    via direct offsets+data buffer access — the read-side twin of
    _binary_array. ``to_pylist()`` + ``b"".join`` materializes N Python bytes
    objects per batch (measured ~30x slower on the write side; the read side
    was the larger half of kernel time in round 2). Falls back to the slow
    path only if the column is ragged or nullable (never true for sketch
    blobs)."""
    if len(a) == 0:
        return np.empty((0, 0), dtype=np.uint64)
    if a.null_count == 0:
        bufs = a.buffers()
        off_dtype = np.int64 if pa.types.is_large_binary(a.type) else np.int32
        offs = np.frombuffer(bufs[1], dtype=off_dtype)[a.offset : a.offset + len(a) + 1]
        width = int(offs[1] - offs[0])
        if width % 8 == 0 and offs[-1] - offs[0] == width * len(a) and np.all(
            np.diff(offs) == width
        ):
            data = np.frombuffer(bufs[2], dtype=np.uint8)
            return data[offs[0] : offs[-1]].view(np.uint64).reshape(len(a), width // 8)
    return np.frombuffer(b"".join(a.to_pylist()), dtype=np.uint64).reshape(len(a), -1)


def _stack_binary(parts: list[np.ndarray]) -> np.ndarray:
    return parts[0] if len(parts) == 1 else np.vstack(parts)


def edge_updates(und_edges: DataFrame, n: int) -> DataFrame:
    """(a,b) canonical edges -> (vid, code) update stream: each edge feeds
    BOTH endpoint supernodes with the same canonical code (two sketch updates
    per stream update, /root/reference/experiment/cluster_speed_expr.cpp:91-93).
    code = a*n + b + 1 fits a signed long for n < 3e9; beyond that the code
    domain needs the 2x64-bit variant (documented in l0.edge_code)."""
    code = (F.col("a") * F.lit(n) + F.col("b") + F.lit(1)).alias("code")
    return und_edges.select(F.col("a").alias("vid"), code).unionAll(
        und_edges.select(F.col("b").alias("vid"), code)
    )


def build_sketch_table(
    und_edges: DataFrame,
    params: SketchParams,
    num_partitions: int = 32,
    salt: int = 1,
) -> DataFrame:
    """Distributed supernode build. Returns DataFrame (vid, sketch).

    salt > 1 enables EXPLICIT SALTED REPARTITIONING for hub-vertex skew
    (north rule): a hub vertex's updates are split across ``salt`` sub-keys,
    each partition builds a PARTIAL sketch, and a second XOR-merge stage
    combines them — the linear-sketch analog of two-phase (partial+final)
    aggregation (SURVEY.md §2.2 I6). Linearity guarantees the salted result
    is bit-identical to the unsalted one.

    ``num_partitions`` caps both shuffles; each is sized by
    sketch_partitions from the sketch rows it can emit (n*salt partials,
    then n merged rows)."""
    upd = edge_updates(und_edges, params.n)
    parts = sketch_partitions(params.n * salt, params.nbytes, num_partitions)
    if salt > 1:
        sub = F.col("vid") * F.lit(salt) + F.pmod(F.xxhash64("code"), F.lit(salt))
        upd = upd.repartition(parts, sub)
    else:
        upd = upd.repartition(parts, F.col("vid"))

    def build(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        vid_parts, code_parts = [], []
        for b in batches:
            vid_parts.append(b.column("vid").to_numpy(zero_copy_only=False))
            code_parts.append(b.column("code").to_numpy(zero_copy_only=False))
        if not vid_parts:
            return
        vids = np.concatenate(vid_parts).astype(np.int64)
        codes = np.concatenate(code_parts).astype(np.int64).view(np.uint64)
        uvids, sk = build_sketches(vids, codes, params)
        yield pa.RecordBatch.from_arrays(
            [pa.array(uvids, type=pa.int64()), _binary_array(sk)],
            names=["vid", "sketch"],
        )

    partials = upd.mapInArrow(build, SKETCH_SCHEMA)
    if salt > 1:
        merge_parts = sketch_partitions(params.n, params.nbytes, num_partitions)
        return xor_merge_by_key(partials, "vid", merge_parts)
    return partials


def xor_merge_by_key(df: DataFrame, key: str, num_partitions: int = 32) -> DataFrame:
    """GroupBy-key XOR merge of sketch rows (the linear sketch-addition
    aggregation, A2/A3 in SURVEY.md §2.3). One shuffle into exactly
    ``num_partitions`` partitions (the key domain is unknown here, so the
    caller sizes it); fold is vectorized reduceat per partition."""
    part = df.repartition(num_partitions, F.col(key))

    def fold(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        keys_parts, blob_parts = [], []
        for b in batches:
            if b.num_rows == 0:
                continue
            keys_parts.append(b.column(key).to_numpy(zero_copy_only=False))
            blob_parts.append(_binary_matrix(b.column("sketch")))
        if not keys_parts:
            return
        keys = np.concatenate(keys_parts).astype(np.int64)
        rows = _stack_binary(blob_parts)
        ids, folded = xor_fold_rows(rows, keys)
        yield pa.RecordBatch.from_arrays(
            [pa.array(ids, type=pa.int64()), _binary_array(folded)],
            names=[key, "sketch"],
        )

    return part.mapInArrow(fold, f"{key} long, sketch binary")


# ---------------------------------------------------------------------------
# Columnar per-group layout (the CC fast path).
#
# The blob layout above stores ALL groups in one binary cell, so every Boruvka
# round deserializes rounds*cols*depths*16 bytes per row just to sample ONE
# group (~28KB/vertex at n=2^16) — the dominant cost of cc_sketch in round 1.
# The columnar layout stores one binary column PER GROUP, each prefixed with
# its own copy of the deterministic bucket (linear, so per-group copies merge
# identically). Round g then projects only (vid, g{g}) — Spark column pruning
# ships 1/rounds of the table through Arrow — and the per-round component
# merge updates only the tiny vid->comp map, never rematerializing sketches.
# ---------------------------------------------------------------------------


def slice_params(params: SketchParams) -> SketchParams:
    """Params describing a single-group slice row (det bucket + one group)."""
    return SketchParams(
        n=params.n, rounds=1, cols=params.cols, depths=params.depths, seed=params.seed
    )


def group_cols(params: SketchParams) -> list[str]:
    return [f"g{g}" for g in range(params.rounds)]


def slice_row_bytes(params: SketchParams) -> int:
    """Sketch bytes of one columnar row: ``rounds`` slices, each a det
    bucket plus one group."""
    return params.rounds * slice_params(params).nbytes


def _split_groups(sk: np.ndarray, params: SketchParams) -> list[np.ndarray]:
    """(G, n_slots) full supernodes -> per-group (G, 2+spg) slices, each
    carrying its own copy of the deterministic bucket."""
    spg = params.slots_per_group
    det = sk[:, :2]
    return [
        np.ascontiguousarray(
            np.concatenate([det, sk[:, 2 + g * spg : 2 + (g + 1) * spg]], axis=1)
        )
        for g in range(params.rounds)
    ]


def build_group_slices(
    und_edges: DataFrame,
    params: SketchParams,
    num_partitions: int = 32,
    salt: int = 1,
) -> DataFrame:
    """Distributed supernode build, columnar-by-group:
    (vid long, g0 binary, ..., g{R-1} binary). Same kernel, same single
    shuffle, same salted two-phase option and the same sketch_partitions
    sizing under the ``num_partitions`` cap as build_sketch_table."""
    upd = edge_updates(und_edges, params.n)
    parts = sketch_partitions(params.n * salt, slice_row_bytes(params), num_partitions)
    if salt > 1:
        sub = F.col("vid") * F.lit(salt) + F.pmod(F.xxhash64("code"), F.lit(salt))
        upd = upd.repartition(parts, sub)
    else:
        upd = upd.repartition(parts, F.col("vid"))
    names = ["vid"] + group_cols(params)
    schema = "vid long, " + ", ".join(f"{c} binary" for c in group_cols(params))

    def build(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        vid_parts, code_parts = [], []
        for b in batches:
            vid_parts.append(b.column("vid").to_numpy(zero_copy_only=False))
            code_parts.append(b.column("code").to_numpy(zero_copy_only=False))
        if not vid_parts:
            return
        vids = np.concatenate(vid_parts).astype(np.int64)
        codes = np.concatenate(code_parts).astype(np.int64).view(np.uint64)
        uvids, sk = build_sketches(vids, codes, params)
        arrays = [pa.array(uvids, type=pa.int64())]
        for sl in _split_groups(sk, params):
            arrays.append(_binary_array(sl))
        yield pa.RecordBatch.from_arrays(arrays, names=names)

    partials = upd.mapInArrow(build, schema)
    if salt > 1:
        return xor_merge_slices(partials, "vid", params, num_partitions)
    return partials


def xor_merge_slices(
    df: DataFrame, key: str, params: SketchParams, num_partitions: int = 32
) -> DataFrame:
    """GroupBy-key XOR merge of columnar slice rows (all group columns).
    The key is a vid, so the output is at most ``params.n`` rows and the
    shuffle runs sketch_partitions of them, capped at ``num_partitions``."""
    parts = sketch_partitions(params.n, slice_row_bytes(params), num_partitions)
    part = df.repartition(parts, F.col(key))
    names = group_cols(params)
    schema = f"{key} long, " + ", ".join(f"{c} binary" for c in names)

    def fold(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        keys_parts: list[np.ndarray] = []
        cols: dict[str, list[np.ndarray]] = {nm: [] for nm in names}
        for b in batches:
            if b.num_rows == 0:
                continue
            keys_parts.append(b.column(key).to_numpy(zero_copy_only=False))
            for nm in names:
                cols[nm].append(_binary_matrix(b.column(nm)))
        if not keys_parts:
            return
        keys = np.concatenate(keys_parts).astype(np.int64)
        wide = np.concatenate([_stack_binary(cols[nm]) for nm in names], axis=1)
        ids, folded = xor_fold_rows(wide, keys)
        W = wide.shape[1] // len(names)
        arrays = [pa.array(ids, type=pa.int64())]
        for gi in range(len(names)):
            arrays.append(_binary_array(folded[:, gi * W : (gi + 1) * W]))
        yield pa.RecordBatch.from_arrays(arrays, names=[key] + names)

    return part.mapInArrow(fold, schema)


def partial_fold(df: DataFrame, key: str) -> DataFrame:
    """Map-side combine: XOR-fold (key, sketch) rows WITHIN each partition —
    no shuffle. The per-partition output is <= min(rows, distinct keys), so
    the downstream shuffle moves component partials, not vertex rows (the
    partial+final aggregation pattern, SURVEY.md §2.3 A3)."""

    def fold(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        keys_parts, blob_parts = [], []
        for b in batches:
            if b.num_rows == 0:
                continue
            keys_parts.append(b.column(key).to_numpy(zero_copy_only=False))
            blob_parts.append(_binary_matrix(b.column("sketch")))
        if not keys_parts:
            return
        keys = np.concatenate(keys_parts).astype(np.int64)
        rows = _stack_binary(blob_parts)
        ids, folded = xor_fold_rows(rows, keys)
        yield pa.RecordBatch.from_arrays(
            [pa.array(ids, type=pa.int64()), _binary_array(folded)],
            names=[key, "sketch"],
        )

    return df.mapInArrow(fold, f"{key} long, sketch binary")


def fold_sample(
    df: DataFrame, key: str, sparams: SketchParams, num_partitions: int = 32
) -> DataFrame:
    """Final fold + l0 sample fused in one pass: (key, sketch-slice) rows ->
    (key, u, v) for keys whose merged slice yields a sample. One shuffle on
    key into exactly ``num_partitions`` partitions — the key count is only
    known to the caller, which sizes it with sketch_partitions; the sample
    never leaves the executor as sketch bytes."""
    part = df.repartition(num_partitions, F.col(key))

    def fs(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        keys_parts, blob_parts = [], []
        for b in batches:
            if b.num_rows == 0:
                continue
            keys_parts.append(b.column(key).to_numpy(zero_copy_only=False))
            blob_parts.append(_binary_matrix(b.column("sketch")))
        if not keys_parts:
            return
        keys = np.concatenate(keys_parts).astype(np.int64)
        rows = _stack_binary(blob_parts)
        ids, folded = xor_fold_rows(rows, keys)
        ok, u, v = sample_group(folded, 0, sparams)
        yield pa.RecordBatch.from_arrays(
            [
                pa.array(ids[ok], type=pa.int64()),
                pa.array(u[ok], type=pa.int64()),
                pa.array(v[ok], type=pa.int64()),
            ],
            names=[key, "u", "v"],
        )

    return part.mapInArrow(fs, f"{key} long, u long, v long")


def sample_vertex_groups(
    df: DataFrame, cols: list[str], sparams: SketchParams
) -> DataFrame:
    """Round-0 fast path: vertex slice rows are unique per vid and the
    vid->comp map is the identity, so sampling needs NO fold, NO shuffle and
    NO label joins — one scan emitting (gi, u, v) per (vertex, group) sample."""
    sel = df.select(*cols)

    def ms(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for b in batches:
            if b.num_rows == 0:
                continue
            gis, us, vs = [], [], []
            for gi, c in enumerate(cols):
                rows = _binary_matrix(b.column(c))
                ok, u, v = sample_group(rows, 0, sparams)
                gis.append(np.full(int(ok.sum()), gi, dtype=np.int64))
                us.append(u[ok])
                vs.append(v[ok])
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(np.concatenate(gis), type=pa.int64()),
                    pa.array(np.concatenate(us), type=pa.int64()),
                    pa.array(np.concatenate(vs), type=pa.int64()),
                ],
                names=["gi", "u", "v"],
            )

    return sel.mapInArrow(ms, "gi long, u long, v long")
