"""Distributed sketch-table build: one shuffle, Arrow-vectorized kernels.

The reference fans per-vertex update batches out to MPI workers which return
sketch deltas merged on the main node (/root/reference/src/worker_cluster.cpp:
80-118, src/work_distributor.cpp:223-255). In Spark the whole pipeline is ONE
declarative job:

    edges --explode endpoints--> (vid, code) --repartition(pmod(vid,P))-->
    mapInArrow(vectorized numpy build) --> slices(vid, g0, ..., g{R-1})

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

The reference applies every delta on rank 0 and holds all supernodes in
main-node RAM (src/work_distributor.cpp:99-100, its acknowledged scalability
ceiling). Here a sketch table stays distributed and merges happen where the
data lives, with one exception: a streaming state that fits one sketch task
(n x slice_row_bytes <= TASK_SKETCH_BYTES) is held on the driver as the
reference holds it, because its merge would run as one Python task anyway.
The driver then builds a batch's delta in-process and XORs it into dense
per-group matrices (_split_groups; streaming/ingest.py), and its CC query
runs relabel_fold_kernel in-process.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from landscape_spark.session import local_parallelism
from landscape_spark.sketch.l0 import (
    SketchParams,
    build_sketches,
    sample_group,
    xor_fold_rows,
)

# NOTE: per-task fixed cost. get_spark's local masters start the Python
# workers from landscape_spark.pyworker, so PySpark's per-task
# importlib.invalidate_caches() re-reads no archive (0.006-0.012 s, against
# 0.11-0.22 s with Spark's daemon), and the JVM reaches them over Unix domain
# sockets. Measured on local[4], a 4-vCPU VM (medians of 15 interleaved reps
# in each of two sessions, loopback TCP in brackets): an empty mapInArrow
# stage takes 0.023 s as 1 task, 0.031 s as 4 and 0.049 s as 8 (0.063-0.066
# / 0.072-0.073 / 0.124-0.126 s); XOR-merging a 2 MiB slice table (n=256)
# 0.060 s as 1 task and 0.085-0.091 s as 8 (0.056-0.059 / 0.095-0.100 s); a
# 10.5 MiB one (n=1000) 0.137-0.143 s as 1 task, 0.086-0.094 s as 4 and
# 0.108-0.125 s as 8 (0.133-0.135 / 0.087-0.094 / 0.130-0.137 s). The
# socket saves about 40 ms on a stage whose tasks read little; a task that
# reads megabytes barely notices it. A task still costs something, so a
# sketch shuffle runs one task per TASK_SKETCH_BYTES of the sketch rows it
# can produce, up to the caller's num_partitions. 8 MiB gives 1 task at
# n=256, 2 at n=1000 and the cap at n=2^14; the n=1000 link-graph build
# took 0.096-0.099 s as 2 tasks against 0.103-0.112 s as 1 and 0.101-0.104
# s as 4 (same reps), so the size stays. In between the rounding can land
# past the core count: n=4096 wants 7 tasks, and an n=4096 build of 16k
# updates took 0.186-0.198 s as 7 tasks (two waves on local[4]) against
# 0.060-0.063 s as 4. num_partitions defaults to local_parallelism, a local
# master's task slots (get_spark), so that build runs as 4 tasks. The bound
# is on OUTPUT rows (distinct keys x row bytes), never on shuffle input: AQE
# coalescing sizes by input, 16 B per update, and could put a sparse 1 MB
# update shuffle whose kernel allocates GBs of sketches into one task.
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
    slices)."""
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


# ---------------------------------------------------------------------------
# Columnar per-group layout.
#
# The table stores one binary column PER GROUP, each prefixed with its own
# copy of the deterministic bucket (linear, so per-group copies merge
# identically). A single blob cell holding all groups would make every
# Boruvka round deserialize rounds*cols*depths*16 bytes per row just to sample
# ONE group (~28KB/vertex at n=2^16). Round g instead projects only (vid,
# g{g}) — Spark column pruning ships 1/rounds of the table through Arrow —
# and the per-round component merge updates only the tiny vid->comp map,
# never rematerializing sketches.
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


def slice_batch(vids: np.ndarray, codes: np.ndarray, params: SketchParams) -> pa.RecordBatch:
    """The build kernel: (vid, code) updates -> one columnar slice row
    (vid, g0, ..., g{R-1}) per distinct vid, every vid's updates XOR-folded.
    build_group_slices runs it in each partition."""
    uvids, sk = build_sketches(vids, codes, params)
    arrays = [pa.array(uvids, type=pa.int64())]
    arrays += [_binary_array(sl) for sl in _split_groups(sk, params)]
    return pa.RecordBatch.from_arrays(arrays, names=["vid"] + group_cols(params))


def build_group_slices(
    und_edges: DataFrame,
    params: SketchParams,
    num_partitions: int | None = None,
    salt: int = 1,
) -> DataFrame:
    """Distributed supernode build, columnar-by-group:
    (vid long, g0 binary, ..., g{R-1} binary).

    salt > 1 enables EXPLICIT SALTED REPARTITIONING for hub-vertex skew: a
    hub vertex's updates are split across ``salt`` sub-keys, each partition
    builds a PARTIAL slice row, and xor_merge_slices combines them — the
    linear-sketch analog of two-phase (partial+final) aggregation (SURVEY.md
    §2.2 I6). Linearity makes the salted result bit-identical to the
    unsalted one.

    ``num_partitions`` (default: local_parallelism) caps both shuffles;
    each is sized by sketch_partitions from the sketch rows it can emit
    (n*salt partials, then n merged rows)."""
    num_partitions = num_partitions or local_parallelism(und_edges.sparkSession)
    upd = edge_updates(und_edges, params.n)
    parts = sketch_partitions(params.n * salt, slice_row_bytes(params), num_partitions)
    if salt > 1:
        sub = F.col("vid") * F.lit(salt) + F.pmod(F.xxhash64("code"), F.lit(salt))
        upd = upd.repartition(parts, sub)
    else:
        upd = upd.repartition(parts, F.col("vid"))
    schema = "vid long, " + ", ".join(f"{c} binary" for c in group_cols(params))

    def build(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        vid_parts, code_parts = [], []
        for b in batches:
            vid_parts.append(b.column("vid").to_numpy(zero_copy_only=False))
            code_parts.append(b.column("code").to_numpy(zero_copy_only=False))
        if vid_parts:
            vids = np.concatenate(vid_parts).astype(np.int64)
            codes = np.concatenate(code_parts).astype(np.int64).view(np.uint64)
            yield slice_batch(vids, codes, params)

    partials = upd.mapInArrow(build, schema)
    if salt > 1:
        return xor_merge_slices(partials, "vid", params, num_partitions)
    return partials


def _gather(
    batches: Iterator[pa.RecordBatch], key: str, cols: list[str]
) -> tuple[np.ndarray, np.ndarray] | None:
    """A partition's ``key`` column and its binary ``cols`` (all of one fixed
    width W) side by side: (keys, (rows, len(cols) * W)-uint64 matrix), or
    None for an empty partition."""
    keys_parts: list[np.ndarray] = []
    mats: list[list[np.ndarray]] = [[] for _ in cols]
    for b in batches:
        if b.num_rows == 0:
            continue
        keys_parts.append(b.column(key).to_numpy(zero_copy_only=False))
        for parts, c in zip(mats, cols):
            parts.append(_binary_matrix(b.column(c)))
    if not keys_parts:
        return None
    keys = np.concatenate(keys_parts).astype(np.int64)
    stacked = [_stack_binary(parts) for parts in mats]
    return keys, stacked[0] if len(cols) == 1 else np.concatenate(stacked, axis=1)


def _fold_batches(
    batches: Iterator[pa.RecordBatch], key: str, cols: list[str]
) -> tuple[np.ndarray, list[np.ndarray]] | None:
    """The one XOR-fold kernel: gather ``key`` and the binary ``cols`` of a
    partition, XOR-fold rows sharing a key (vectorized reduceat). Returns
    (keys, per-column folded matrices), or None for an empty partition."""
    got = _gather(batches, key, cols)
    if got is None:
        return None
    ids, folded = xor_fold_rows(got[1], got[0])
    w = folded.shape[1] // len(cols)
    return ids, [folded[:, i * w : (i + 1) * w] for i in range(len(cols))]


def _sample_batch(ids: np.ndarray, folded: np.ndarray, sparams: SketchParams, key: str):
    """(key, u, v) record batch of the rows of ``folded`` that yield an l0
    sample."""
    ok, u, v = sample_group(folded, 0, sparams)
    return pa.RecordBatch.from_arrays(
        [
            pa.array(ids[ok], type=pa.int64()),
            pa.array(u[ok], type=pa.int64()),
            pa.array(v[ok], type=pa.int64()),
        ],
        names=[key, "u", "v"],
    )


def xor_fold(df: DataFrame, key: str, cols: list[str]) -> DataFrame:
    """Map-side XOR fold of (key, binary cols...) rows WITHIN each partition
    — no shuffle, same schema out. The per-partition output is <= min(rows,
    distinct keys), so a downstream shuffle moves component partials, not
    vertex rows (the partial+final aggregation pattern, SURVEY.md §2.3 A3);
    after a repartition on the key it is the final merge."""
    schema = f"{key} long, " + ", ".join(f"{c} binary" for c in cols)

    def fold(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        out = _fold_batches(batches, key, cols)
        if out is not None:
            ids, folded = out
            yield pa.RecordBatch.from_arrays(
                [pa.array(ids, type=pa.int64())] + [_binary_array(m) for m in folded],
                names=[key] + cols,
            )

    return df.mapInArrow(fold, schema)


def xor_merge_slices(
    df: DataFrame, key: str, params: SketchParams, num_partitions: int
) -> DataFrame:
    """GroupBy-key XOR merge of columnar slice rows (all group columns): one
    shuffle on the key, then xor_fold. The key is a vid, so the output is at
    most ``params.n`` rows and the shuffle runs sketch_partitions of them,
    capped at ``num_partitions``."""
    parts = sketch_partitions(params.n, slice_row_bytes(params), num_partitions)
    return xor_fold(df.repartition(parts, F.col(key)), key, group_cols(params))


def fold_sample(
    df: DataFrame, key: str, sparams: SketchParams, num_partitions: int
) -> DataFrame:
    """Final fold + l0 sample fused in one pass: (key, sketch-slice) rows ->
    (key, u, v) for keys whose merged slice yields a sample. One shuffle on
    key into exactly ``num_partitions`` partitions — the key count is only
    known to the caller, which sizes it with sketch_partitions; the sample
    never leaves the executor as sketch bytes."""
    part = df.repartition(num_partitions, F.col(key))

    def fs(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        out = _fold_batches(batches, key, ["sketch"])
        if out is not None:
            ids, (folded,) = out
            yield _sample_batch(ids, folded, sparams, key)

    return part.mapInArrow(fs, f"{key} long, u long, v long")


def relabel_fold_kernel(
    batches: Iterator[pa.RecordBatch],
    key: str,
    cols: list[str],
    sparams: SketchParams,
    labels: np.ndarray | None = None,
    final: bool = True,
) -> Iterator[pa.RecordBatch]:
    """relabel_fold's kernel over one partition of (key, *cols) slice rows;
    the driver runs it in-process over a driver-held slice table."""
    got = _gather(batches, key, cols)
    if got is None:
        return
    ids, wide = got
    j = len(cols)
    comp = ids if labels is None else labels[ids]
    # (N, j*W) -> (N*j, W): row r*j+i is row r's slice of group i
    keys = (comp[:, None] * j + np.arange(j, dtype=np.int64)).ravel()
    ckeys, folded = xor_fold_rows(wide.reshape(len(keys), -1), keys)
    if final:
        yield _sample_batch(ckeys, folded, sparams, "ckey")
    else:
        yield pa.RecordBatch.from_arrays(
            [pa.array(ckeys, type=pa.int64()), _binary_array(folded)],
            names=["ckey", "sketch"],
        )


def relabel_fold(
    df: DataFrame,
    sparams: SketchParams,
    labels: np.ndarray | None = None,
    final: bool = True,
) -> DataFrame:
    """One Boruvka pass's map side over (id, g_a, g_b, ...) slice rows:
    label each row's id with its component from the driver's dense
    ``labels`` array (None: the id already is the component), key its slice
    of the pass's i-th group comp*j+i (j groups), and XOR-fold the rows
    sharing a key. The array ships with the kernel's closure — no label
    join. PySpark broadcasts a pickled kernel larger than
    ``spark.broadcast.UDFCompressionThreshold`` (1 MiB by default,
    rdd._prepare_for_python_RDD), so above about 131k vertex ids the labels
    already ride one broadcast rather than every task.

    ``final``: the partition holds every row of its keys (one task over the
    whole table, or the identity labels, under which every key is one
    vertex's), so the fold is complete and each row is l0-sampled here:
    (ckey, u, v). Otherwise the partial folds (ckey, sketch) go on to a
    repartition on ckey and fold_sample."""
    key, *cols = df.columns
    schema = "ckey long, u long, v long" if final else "ckey long, sketch binary"
    return df.mapInArrow(
        lambda batches: relabel_fold_kernel(batches, key, cols, sparams, labels, final),
        schema,
    )
