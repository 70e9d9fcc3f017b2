from __future__ import annotations

from landscape_spark import linkgraph, sources


def test_edge_table_roundtrip_and_pruning(spark, sf_small, tmp_path):
    e = linkgraph.directed_edges(spark, sf_small)
    path = str(tmp_path / "edges")
    sources.write_edge_table(e, path, num_buckets=8)
    back = sources.read_edge_table(spark, path)
    assert sorted(map(tuple, back.select("src", "dst").collect())) == sorted(
        map(tuple, e.collect())
    )
    layout = sources.edge_table_files(path)
    assert len(layout) == 8 and all(v >= 1 for v in layout.values())

    # point lookup prunes to one bucket partition
    lookup = sources.read_edges_of_src(spark, path, src=5, num_buckets=8)
    plan = lookup._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "bucket" in plan
    rows = lookup.collect()
    expected = [(r.src, r.dst) for r in e.where("src = 5").collect()]
    assert sorted((r.src, r.dst) for r in rows) == sorted(expected)


def test_bucketed_roundtrip_gate_removes_its_table(spark, sf_small):
    """The bucketed_roundtrip gate writes a temporary edge table; running it
    must leave no landscape_gate_edge_table_* directory behind."""
    import glob
    import os
    import tempfile

    from landscape_spark.entry_queries import q_bucketed_roundtrip

    pattern = os.path.join(tempfile.gettempdir(), "landscape_gate_edge_table_*")
    before = set(glob.glob(pattern))
    rows = q_bucketed_roundtrip(spark, sf_small).collect()
    assert rows and sum(r.n_vertices for r in rows) > 0
    assert set(glob.glob(pattern)) == before
