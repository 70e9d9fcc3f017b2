"""Driver-owned Borůvka labels: the vid->comp map is a driver array, so
each pass is one Spark job, no pass leaves session state behind, and the
labels, samples and forests do not depend on the pass's task layout."""

from __future__ import annotations

import networkx as nx
import pytest
from pyspark.sql import functions as F

import landscape_spark.graph.cc as cc
from landscape_spark import linkgraph
from landscape_spark.checkpoint import _release
from landscape_spark.graph.cc import connected_components_exact
from landscape_spark.sketch import build
from landscape_spark.sketch.boruvka import (
    _boruvka_passes,
    _cc_rounds,
    connected_components_sketch,
    k_spanning_forests,
    resume_connected_components,
)
from landscape_spark.sketch.build import build_group_slices
from landscape_spark.sketch.l0 import SketchParams
from landscape_spark.streaming.ingest import SketchStreamIngestor
from tests.conftest import persisted

N = 256


@pytest.fixture(scope="module")
def er_edges(spark):
    """A 256-vertex ER graph (average degree about 7.6)."""
    rows = linkgraph.er_hash_net_edges(spark, N, 0.03, seed=7).collect()
    return sorted((r.a, r.b) for r in rows)


def _edges_df(spark, edges):
    return spark.createDataFrame(edges, "a long, b long")


def _oracle(edges):
    g = nx.Graph(edges)
    return {v: min(c) for c in nx.connected_components(g) for v in c}


@pytest.mark.parametrize("graph", ["er", "path", "matching"])
def test_cc_rounds_runs_one_job_per_pass(spark, er_edges, graph):
    """One vid collect starts the call, then each pass (the matching's empty
    confirm pass included) is one Spark job: at most passes + 1 jobs."""
    edges = {
        "er": er_edges,
        "path": [(i, i + 1) for i in range(N - 1)],
        "matching": [(i, i + 1) for i in range(0, N, 2)],
    }[graph]
    params = SketchParams.for_graph(N, seed=7)
    slices = build_group_slices(_edges_df(spark, edges), params, 4).persist()
    slices.count()
    sc = spark.sparkContext
    passes: list[int] = []
    group = f"cc_rounds_job_count_{graph}"
    sc.setJobGroup(group, "driver-mode _cc_rounds")
    try:
        vmap = _cc_rounds(
            spark, slices, None, params, num_partitions=8,
            on_round=lambda g, s, m: passes.append(g),
        )
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    assert passes and len(jobs) <= len(passes) + 1
    assert {r.v: r.comp for r in vmap.collect()} == _oracle(edges)
    assert vmap.rdd.getNumPartitions() == 1
    slices.unpersist()


def test_sketch_operators_leave_no_persisted_rdds(spark, er_edges, tmp_path, monkeypatch):
    """Session litter: no sketch operator leaves a persisted RDD behind,
    its result consumed. Exact CC neither: below COLLECT_THRESHOLD its
    result is a driver-built frame; above it, the result's own local
    checkpoint is the only RDD left, every round's checkpoint released."""
    e = _edges_df(spark, er_edges)
    v = spark.range(N).select(F.col("id").alias("v"))
    before = persisted(spark)
    connected_components_exact(e, v).collect()
    assert persisted(spark) <= before
    monkeypatch.setattr(cc, "COLLECT_THRESHOLD", 0)
    labels = connected_components_exact(e, v)
    labels.collect()
    assert persisted(spark) - before == {labels._jdf.queryExecution().analyzed().rdd().id()}
    _release(labels)
    assert persisted(spark) <= before
    monkeypatch.undo()
    connected_components_sketch(spark, e, N, num_partitions=4).collect()
    assert persisted(spark) <= before
    k_spanning_forests(spark, e, N, 2, num_partitions=4).collect()
    assert persisted(spark) <= before
    ing = SketchStreamIngestor(
        spark, SketchParams.for_graph(N, seed=7), str(tmp_path / "st"), num_partitions=4
    )
    ing.absorb_batch(e, 0)
    ing.query_components(0).collect()
    assert persisted(spark) <= before


def test_pass_task_layout_keeps_samples(spark, er_edges, monkeypatch):
    """A driver-mode pass runs as one coalesced task when its rows fit one;
    otherwise over the stored slice partitions, the identity pass sampling
    map-side and later passes folding map-side before a shuffle. The
    samples, merges and labels are the same either way."""
    params = SketchParams.for_graph(N, seed=7)
    e = _edges_df(spark, er_edges)

    def run():
        slices = build_group_slices(e, params, 4).persist()
        vmap, pairs, used = _boruvka_passes(spark, slices, None, params, 0, params.rounds, 4)
        out = sorted(map(tuple, vmap.collect())), pairs.tolist(), used
        slices.unpersist()
        return out

    one_task = run()
    monkeypatch.setattr(build, "TASK_SKETCH_BYTES", 1)
    assert run() == one_task


def test_resume_round_trips_driver_checkpoint(spark, er_edges, tmp_path):
    """A driver-mode run's last checkpointed vmap loads back into the label
    array: resuming it gives the same map."""
    e = _edges_df(spark, er_edges)
    ck = str(tmp_path / "ck")
    vmap = connected_components_sketch(spark, e, N, num_partitions=4, checkpoint_dir=ck)
    want = sorted(map(tuple, vmap.collect()))
    got = sorted(map(tuple, resume_connected_components(spark, ck, num_partitions=4).collect()))
    assert got == want
    assert dict(got) == _oracle(er_edges)


def test_empty_frames_are_one_partition(spark, tmp_path):
    """Empty results are built without a Python RDD, as one partition:
    the empty-state stream query and an edgeless k-forest call."""
    ing = SketchStreamIngestor(
        spark, SketchParams.for_graph(64, seed=1), str(tmp_path / "st"), num_partitions=2
    )
    q = ing.query_components(0)
    assert q.rdd.getNumPartitions() == 1 and q.count() == 0
    none = spark.range(0).select(F.col("id").alias("a"), F.col("id").alias("b"))
    f = k_spanning_forests(spark, none, 8, 2, num_partitions=2)
    assert f.rdd.getNumPartitions() == 1 and f.count() == 0
