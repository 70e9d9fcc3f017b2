from __future__ import annotations

from pyspark.sql import functions as F

from landscape_spark import linkgraph
from landscape_spark.graph.lpa import label_propagation
from landscape_spark.graph.triangles import triangle_count, triangles_per_vertex
from tests.oracles import lpa_oracle, triangle_oracle
from tests.conftest import assert_no_litter, persisted


def test_lpa_matches_oracle(spark, sf_small):
    und = linkgraph.undirected_edges(spark, sf_small)
    n = linkgraph.num_vertices(spark, sf_small)
    verts = linkgraph.vertices(spark, sf_small)
    edges = [(r.a, r.b) for r in und.collect()]
    oracle = lpa_oracle(edges, n, iters=5)
    before = persisted(spark)
    out = label_propagation(und, verts, iters=5)
    got = {r.v: r.label for r in out.collect()}
    assert got == {v: oracle[v] for v in range(n)}
    assert_no_litter(spark, before, out)


def test_triangles_match_oracle(spark, sf_small):
    und = linkgraph.undirected_edges(spark, sf_small)
    edges = [(r.a, r.b) for r in und.collect()]
    expected = triangle_oracle(edges)
    assert expected > 0  # hub skew guarantees triangles
    got = triangle_count(und).first()[0]
    assert got == expected


def test_triangles_per_vertex_sum(spark, sf_small):
    und = linkgraph.undirected_edges(spark, sf_small)
    verts = linkgraph.vertices(spark, sf_small)
    edges = [(r.a, r.b) for r in und.collect()]
    expected = triangle_oracle(edges)
    per_v = triangles_per_vertex(und, verts)
    total = per_v.agg(F.sum("tri_cnt")).first()[0]
    assert total == 3 * expected  # each triangle counted at 3 vertices


def test_triangle_small_known(spark):
    # K4 has 4 triangles
    edges = [(a, b) for a in range(4) for b in range(a + 1, 4)]
    e = spark.createDataFrame(edges, "a long, b long")
    assert triangle_count(e).first()[0] == 4


def test_lpa_checkpoint_resume(spark, sf_small, tmp_path):
    """Kill-and-resume parity for LPA: 2 rounds checkpointed, resumed to 5,
    EXACTLY equals an uninterrupted 5-round run (labels are integers)."""
    from landscape_spark.graph.lpa import label_propagation, resume_label_propagation

    und = linkgraph.undirected_edges(spark, sf_small)
    verts = linkgraph.vertices(spark, sf_small)
    ckdir = str(tmp_path / "lpa_ck")
    label_propagation(und, verts, iters=2, checkpoint_dir=ckdir, checkpoint_every=2).count()
    resumed = sorted(
        map(tuple, resume_label_propagation(und, verts, ckdir, iters=5).collect())
    )
    straight = sorted(map(tuple, label_propagation(und, verts, iters=5).collect()))
    assert resumed == straight
