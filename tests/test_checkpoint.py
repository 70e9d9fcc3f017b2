"""Mid-iteration resume (north rule): kill Boruvka between rounds, resume from
the per-round checkpoint, get the identical result — plus lineage contents."""

from __future__ import annotations

import json
import os

from pyspark.sql import functions as F

from landscape_spark.checkpoint import RoundCheckpointer, step
from landscape_spark.sketch.boruvka import (
    _cc_rounds,
    components_with_isolated,
    connected_components_sketch,
    resume_connected_components,
)
from landscape_spark.sketch.build import build_group_slices
from landscape_spark.sketch.l0 import SketchParams
from tests.conftest import persisted
from tests.test_cc import _nx_canonical_components, multiples_graph_edges


def _vmap0(und_edges):
    """Identity vmap over edge-incident vertices (the _cc_rounds entry
    state; inlined here from the production path's inlined form)."""
    return (
        und_edges.select(F.col("a").alias("v"))
        .unionAll(und_edges.select(F.col("b").alias("v")))
        .distinct()
        .select("v", F.col("v").alias("comp"))
        .localCheckpoint(eager=True)
    )


def test_resume_mid_iteration_identical(spark, tmp_path):
    n = 1024
    edges = multiples_graph_edges(n)
    oracle = _nx_canonical_components(edges, n)
    e = spark.createDataFrame(
        sorted({(min(a, b), max(a, b)) for a, b in edges}), "a long, b long"
    )
    v = spark.range(n).select(F.col("id").alias("v"))
    params = SketchParams.for_graph(n)
    ckpt_dir = str(tmp_path / "ck")

    # phase 1: run only ONE round, checkpointing — then "crash". _cc_rounds
    # with a truncated params.rounds budget simulates dying after round 0.
    ckpt = RoundCheckpointer(spark, ckpt_dir, "boruvka_cc")
    slices = build_group_slices(e, params, 4).localCheckpoint(eager=True)
    one_round = SketchParams(
        n=params.n, rounds=1, cols=params.cols, depths=params.depths, seed=params.seed
    )
    # the truncated budget leaves live components behind — the exhaustion
    # guard must SAY so (this doubles as the warning's regression test)
    import pytest

    with pytest.warns(RuntimeWarning, match="budget exhausted"):
        _cc_rounds(
            spark, slices, _vmap0(e), one_round,
            start_group=0, num_partitions=4, ckpt=ckpt,
        )
    assert ckpt.latest_round() == 0
    # the checkpoint must record the FULL round budget so resume can continue
    # past round 0 — patch the recorded params the way a real run would have
    # written them (the truncation above is test scaffolding, not semantics).
    lineage_path = os.path.join(ckpt.round_dir(0), "lineage.json")
    with open(lineage_path) as f:
        lineage = json.load(f)
    lineage["state"]["params"]["rounds"] = params.rounds
    with open(lineage_path, "w") as f:
        json.dump(lineage, f)

    # phase 2: resume from disk in a "new" driver context
    vmap = resume_connected_components(spark, ckpt_dir, num_partitions=4)
    got = {
        r.v: r.comp for r in components_with_isolated(spark, vmap, v).collect()
    }
    assert got == oracle
    assert len(set(got.values())) == 78


def test_lineage_contents(spark, tmp_path):
    e = spark.createDataFrame([(0, 1), (1, 2), (3, 4)], "a long, b long")
    ckpt_dir = str(tmp_path / "ck2")
    connected_components_sketch(
        spark, e, 6, num_partitions=2, checkpoint_dir=ckpt_dir
    )
    rd = os.path.join(ckpt_dir, "boruvka_cc", "round=0")
    with open(os.path.join(rd, "lineage.json")) as f:
        lineage = json.load(f)
    assert lineage["round"] == 0
    assert lineage["previous"] is None
    # round 0 persists the once-written slice table + the vmap; later rounds
    # persist only the vmap (slices are immutable — referenced by path).
    assert set(lineage["tables"]) == {"slices", "vmap"}
    for meta in lineage["tables"].values():
        assert meta["rows"] > 0
        assert sum(meta["partition_rows"]) == meta["rows"]  # per-partition lineage
    assert "round_sec" in lineage["metrics"]
    assert lineage["state"]["params"]["n"] == 6
    assert lineage["state"]["slices_path"].endswith("slices.parquet")
    # checkpointed tables are loadable
    df = spark.read.parquet(lineage["tables"]["vmap"]["path"])
    assert df.count() == lineage["tables"]["vmap"]["rows"]


def test_step_observes_integers_and_frees_what_it_replaces(spark):
    """checkpoint.step: integer aggregates come back from the checkpoint's
    own job (None for a sum over no rows), the released frame's checkpoint
    is freed once the new one exists, and a float aggregate raises."""
    import pytest

    first, stats = step(spark.range(10), n=F.count(F.lit(1)), s=F.sum("id"))
    assert stats == {"n": 10, "s": 45}
    first_rdd = first._jdf.queryExecution().analyzed().rdd().id()
    assert first_rdd in persisted(spark)
    second, stats = step(first.where("id < 3"), release=(first,), s=F.sum("id"))
    assert stats == {"s": 3} and second.count() == 3
    assert first_rdd not in persisted(spark)
    _, stats = step(second.where("id < 0"), release=(second,), s=F.sum("id"))
    assert stats == {"s": None}
    before = persisted(spark)
    with pytest.raises(TypeError, match="float"):
        step(spark.range(4), m=F.avg("id"))
    assert persisted(spark) <= before
