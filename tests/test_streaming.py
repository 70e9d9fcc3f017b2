"""Streaming ingest facade: micro-batched sketch accumulation, in-stream
queries (reference's breakpointed continuous queries,
/root/reference/test/distributed_graph_test.cpp:191-223), deletion semantics,
and a real Structured Streaming file-source run."""

from __future__ import annotations

import networkx as nx
from pyspark.sql import functions as F

from landscape_spark.sketch.boruvka import components_with_isolated
from landscape_spark.sketch.l0 import SketchParams
from landscape_spark.streaming import ingest
from landscape_spark.streaming.ingest import SketchStreamIngestor


def _cc_oracle(edges, n):
    g = nx.Graph()
    g.add_nodes_from(range(n))
    g.add_edges_from(edges)
    return {v: min(c) for c in nx.connected_components(g) for v in c}


def _placements(monkeypatch):
    """Both placements of the stream state, in turn: driver-held (every
    graph here is far below one sketch task), then merged and queried in
    Spark (the driver threshold at 0). A test loops its body over them."""
    yield "held"
    monkeypatch.setattr(ingest, "TASK_SKETCH_BYTES", 0)
    yield "spark"


def test_microbatch_accumulation_and_instream_queries(spark, tmp_path):
    n = 64
    params = SketchParams.for_graph(n, seed=3)
    ing = SketchStreamIngestor(spark, params, str(tmp_path / "st"), num_partitions=2)
    batch1 = [(1, 2), (2, 3), (10, 11)]
    batch2 = [(3, 4), (11, 12), (20, 21)]
    v = spark.range(n).select(F.col("id").alias("v"))

    ing.absorb_batch(spark.createDataFrame(batch1, "a long, b long"), 0)
    got1 = {
        r.v: r.comp
        for r in components_with_isolated(spark, ing.query_components(n), v).collect()
    }
    assert got1 == _cc_oracle(batch1, n)  # query reflects ONLY batch 1

    ing.absorb_batch(spark.createDataFrame(batch2, "a long, b long"), 1)
    got2 = {
        r.v: r.comp
        for r in components_with_isolated(spark, ing.query_components(n), v).collect()
    }
    assert got2 == _cc_oracle(batch1 + batch2, n)


def test_stream_deletions(spark, tmp_path):
    """Re-sending an edge deletes it (XOR linearity) — the reference's
    INSERT/DELETE stream semantics."""
    n = 16
    params = SketchParams.for_graph(n, seed=5)
    ing = SketchStreamIngestor(spark, params, str(tmp_path / "st2"), num_partitions=2)
    ing.absorb_batch(spark.createDataFrame([(1, 2), (2, 3)], "a long, b long"), 0)
    ing.absorb_batch(spark.createDataFrame([(2, 3)], "a long, b long"), 1)  # delete
    v = spark.range(n).select(F.col("id").alias("v"))
    got = {
        r.v: r.comp
        for r in components_with_isolated(spark, ing.query_components(n), v).collect()
    }
    assert got == _cc_oracle([(1, 2)], n)
    # degenerate batches on a fresh state: an empty first batch, an
    # all-self-loop batch, and a batch whose duplicate edge cancels (its
    # endpoints stay vertices of the state)
    ing = SketchStreamIngestor(spark, params, str(tmp_path / "degen"), num_partitions=2)
    ing.absorb_batch(spark.createDataFrame([], "a long, b long"), 0)
    assert ing.query_components(0).collect() == []
    ing.absorb_batch(spark.createDataFrame([(4, 4), (7, 7)], "a long, b long"), 1)
    assert ing.query_components(0).collect() == []
    ing.absorb_batch(spark.createDataFrame([(1, 2), (2, 3), (1, 2)], "a long, b long"), 2)
    assert {r.v: r.comp for r in ing.query_components(0).collect()} == {1: 1, 2: 2, 3: 2}


def test_real_structured_stream_file_source(spark, tmp_path):
    """End-to-end readStream (file source, availableNow trigger) ->
    foreachBatch sketch merge -> final CC equals the static answer."""
    n = 32
    src_dir = tmp_path / "edges_in"
    src_dir.mkdir()
    edges = [(0, 1), (1, 2), (5, 6), (6, 7), (7, 5), (9, 10)]
    # two files -> at least one micro-batch each under availableNow
    spark.createDataFrame(edges[:3], "a long, b long").write.parquet(
        str(src_dir / "f1.parquet")
    )
    spark.createDataFrame(edges[3:], "a long, b long").write.parquet(
        str(src_dir / "f2.parquet")
    )
    params = SketchParams.for_graph(n, seed=7)
    ing = SketchStreamIngestor(spark, params, str(tmp_path / "st3"), num_partitions=2)
    stream = (
        spark.readStream.schema("a long, b long")
        .option("recursiveFileLookup", "true")
        .parquet(str(src_dir))
    )
    q = ing.start(stream)
    q.awaitTermination(120)
    assert ing.batches_seen >= 1
    v = spark.range(n).select(F.col("id").alias("v"))
    got = {
        r.v: r.comp
        for r in components_with_isolated(spark, ing.query_components(n), v).collect()
    }
    assert got == _cc_oracle(edges, n)


def test_breakpointed_burst_queries_with_incremental_oracle(spark, tmp_path, monkeypatch):
    """Registered-breakpoint replay with point-query bursts (reference
    cluster_query_expr.cpp:197-332): at each of 4 breakpoints the burst
    answers must match the incremental net-graph oracle, and the latency
    record carries the flush-vs-algorithm split (:286-294)."""
    from landscape_spark.streaming.ingest import replay_with_breakpoints

    n = 48
    rng = __import__("random").Random(17)
    upds = []
    for i in range(400):
        a, b = rng.randrange(n), rng.randrange(n)
        if a != b:
            upds.append((len(upds), min(a, b), max(a, b)))
    updates = spark.createDataFrame(upds, "upd_idx long, a long, b long")
    pairs = [(i % n, (i * 7 + 3) % n) for i in range(20)]
    pairs_df = spark.createDataFrame(pairs, "a long, b long")
    params = SketchParams.for_graph(n, seed=13)
    for placement in _placements(monkeypatch):
        sd = str(tmp_path / f"bp_{placement}")
        ing = SketchStreamIngestor(spark, params, sd, num_partitions=2)
        bps = [100, 200, 300, len(upds)]
        recs = replay_with_breakpoints(spark, updates, bps, ing, burst_pairs=pairs_df)
        assert [r["breakpoint"] for r in recs] == bps
        for r in recs:
            assert "flush_sec" in r and "alg_sec" in r
        # oracle: net presence of the prefix (odd multiplicity) at each breakpoint
        from collections import Counter

        for r, q in zip(recs, bps):
            cnt = Counter((a, b) for _, a, b in upds[:q])
            net = [e for e, c in cnt.items() if c % 2 == 1]
            oracle = _cc_oracle(net, n)
            expected = sum(1 for a, b in pairs if oracle[a] == oracle[b])
            assert r["burst_connected"] == expected, f"breakpoint {q}"


def test_cc_cache_hit_and_invalidate(spark, tmp_path, monkeypatch):
    """GreedyCC: repeated queries between updates reuse the cached labels;
    an absorbed batch invalidates (reference dsu_valid,
    graph_distrib_update.cpp:107-120)."""
    n = 16
    params = SketchParams.for_graph(n, seed=5)
    for placement in _placements(monkeypatch):
        sd = str(tmp_path / f"cche_{placement}")
        ing = SketchStreamIngestor(spark, params, sd, num_partitions=2)
        ing.absorb_batch(spark.createDataFrame([(1, 2), (3, 4)], "a long, b long"), 0)
        ing.query_components(n)
        assert (ing.cc_cache_hits, ing.cc_cache_misses) == (0, 1)
        ing.query_components(n)
        ing.burst_point_queries(spark.createDataFrame([(1, 2)], "a long, b long")).collect()
        assert ing.cc_cache_hits == 2 and ing.cc_cache_misses == 1
        ing.absorb_batch(spark.createDataFrame([(5, 6)], "a long, b long"), 1)  # invalidate
        got = {r.v: r.comp for r in ing.query_components(n).collect()}
        assert ing.cc_cache_misses == 2
        # n_vertices > 0 covers ALL of 0..n-1: never-seen vertices are singletons
        expected = {1: 1, 2: 1, 3: 3, 4: 3, 5: 5, 6: 5}
        expected.update({v: v for v in range(n) if v not in expected})
        assert got == expected


def test_absorb_batch_replay_is_idempotent(spark, tmp_path, monkeypatch):
    """foreachBatch is at-least-once: re-delivering a committed batch_id
    must be a no-op — under XOR semantics a re-merge would DELETE the
    batch's edges from the sketch state."""
    n = 16
    params = SketchParams.for_graph(n, seed=7)
    for placement in _placements(monkeypatch):
        sd = str(tmp_path / f"rep_{placement}")
        ing = SketchStreamIngestor(spark, params, sd, num_partitions=2)
        b0 = spark.createDataFrame([(1, 2), (3, 4)], "a long, b long")
        ing.absorb_batch(b0, 0)
        before = {r.v: r.comp for r in ing.query_components(0).collect()}
        ing.absorb_batch(b0, 0)  # at-least-once replay of the SAME batch id
        after = {r.v: r.comp for r in ing.query_components(0).collect()}
        assert after == before == {1: 1, 2: 1, 3: 3, 4: 3}
        # a genuinely new batch id still applies
        ing.absorb_batch(spark.createDataFrame([(2, 3)], "a long, b long"), 1)
        got = {r.v: r.comp for r in ing.query_components(0).collect()}
        assert got == {1: 1, 2: 1, 3: 1, 4: 1}


def test_state_commit_survives_crash_before_pointer_flip(spark, tmp_path, monkeypatch):
    """The atomic commit point is the CURRENT pointer rename: a crash after
    writing the new version dir but BEFORE the flip must leave the previous
    committed state live (the stream re-delivers the uncommitted batch). A
    flip that fails leaves it live in the driver-held state too, so the
    retried batch applies exactly once."""
    import json
    import os

    import pytest

    n = 16
    params = SketchParams.for_graph(n, seed=9)
    for placement in _placements(monkeypatch):
        sd = str(tmp_path / f"crash_{placement}")
        ing = SketchStreamIngestor(spark, params, sd, num_partitions=2)
        ing.absorb_batch(spark.createDataFrame([(1, 2)], "a long, b long"), 0)
        committed = {r.v: r.comp for r in ing.query_components(0).collect()}
        # simulate the crash window: the next version's dir exists (fully
        # written) but CURRENT was never flipped
        ing2 = SketchStreamIngestor(spark, params, sd, num_partitions=2, resume=True)
        nxt = ing2._version_dir(1)
        os.makedirs(nxt, exist_ok=True)
        open(os.path.join(nxt, "_SUCCESS"), "w").close()
        with open(os.path.join(sd, "CURRENT")) as f:
            assert json.load(f)["version"] == 0  # pointer still on v0
        assert {r.v: r.comp for r in ing2.query_components(0).collect()} == committed
        replace = os.replace

        def fail_once(src, dst):
            monkeypatch.setattr(os, "replace", replace)
            raise OSError("pointer flip failed")

        monkeypatch.setattr(os, "replace", fail_once)
        with pytest.raises(OSError, match="pointer flip failed"):
            ing2.absorb_batch(spark.createDataFrame([(3, 4)], "a long, b long"), 1)
        assert {r.v: r.comp for r in ing2.query_components(0).collect()} == committed
        # the re-delivered batch commits over the stale dir and flips to v1
        ing2.absorb_batch(spark.createDataFrame([(3, 4)], "a long, b long"), 1)
        with open(os.path.join(sd, "CURRENT")) as f:
            assert json.load(f)["version"] == 1
        got = {r.v: r.comp for r in ing2.query_components(0).collect()}
        assert got == {1: 1, 2: 1, 3: 3, 4: 3}


def test_state_dir_reuse_requires_explicit_resume(spark, tmp_path, monkeypatch):
    """Attaching a FRESH stream (batch ids restarting at 0) to a state_dir
    with committed state would silently skip every batch until the new ids
    surpass the committed batch_id — the constructor refuses unless the
    caller opts into resuming."""
    import pytest

    n = 16
    params = SketchParams.for_graph(n, seed=13)
    for placement in _placements(monkeypatch):
        sd = str(tmp_path / f"reuse_{placement}")
        ing = SketchStreamIngestor(spark, params, sd, num_partitions=2)
        ing.absorb_batch(spark.createDataFrame([(1, 2)], "a long, b long"), 5)
        with pytest.raises(ValueError, match="resume=True"):
            SketchStreamIngestor(spark, params, sd, num_partitions=2)
        # explicit resume continues where the committed stream left off
        ing2 = SketchStreamIngestor(spark, params, sd, num_partitions=2, resume=True)
        ing2.absorb_batch(spark.createDataFrame([(3, 4)], "a long, b long"), 6)
        got = {r.v: r.comp for r in ing2.query_components(0).collect()}
        assert got == {1: 1, 2: 1, 3: 3, 4: 3}


def test_state_retains_previous_version_for_racing_queries(spark, tmp_path, monkeypatch):
    """The previous version dir survives one commit (an in-flight query's
    snapshot); older versions are garbage-collected."""
    import os

    n = 16
    params = SketchParams.for_graph(n, seed=11)
    for placement in _placements(monkeypatch):
        sd = str(tmp_path / f"ret_{placement}")
        ing = SketchStreamIngestor(spark, params, sd, num_partitions=2)
        for i, pair in enumerate([(1, 2), (3, 4), (5, 6)]):
            ing.absorb_batch(spark.createDataFrame([pair], "a long, b long"), i)
        dirs = sorted(d for d in os.listdir(sd) if d.startswith("sketches_v"))
        assert dirs == ["sketches_v1", "sketches_v2"]  # current + previous only


def test_small_state_commits_one_parquet_file(spark, tmp_path, monkeypatch):
    """A 64-vertex sketch table is far below one task's byte target, so the
    state is driver-held and every commit writes exactly one parquet part
    file, also when a batch above COLLECT_THRESHOLD edges builds its delta
    in Spark. With the driver threshold at 0 the build and the state merge
    run in Spark, each as one partition even with a cap of 8: one part file
    too. All three commit the same rows and labels."""
    import os

    import pyarrow.parquet as pq

    from landscape_spark.streaming import ingest

    n = 64
    params = SketchParams.for_graph(n, seed=17)
    committed = []
    for held, collect in ((True, ingest.COLLECT_THRESHOLD), (True, 1), (False, None)):
        if held:
            monkeypatch.setattr(ingest, "COLLECT_THRESHOLD", collect)
        else:
            monkeypatch.setattr(ingest, "TASK_SKETCH_BYTES", 0)
        sd = str(tmp_path / f"one_{held}_{collect}")
        ing = SketchStreamIngestor(spark, params, sd, num_partitions=8)
        assert ing._held == held
        for i, batch in enumerate([[(1, 2), (2, 3), (10, 11)], [(3, 4), (2, 3)]]):
            ing.absorb_batch(spark.createDataFrame(batch, "a long, b long"), i)
            vdir = ing._version_dir(i)
            parts = [f for f in os.listdir(vdir) if f.startswith("part-")]
            assert len(parts) == 1, parts
        got = {r.v: r.comp for r in ing.query_components(0).collect()}
        # (2, 3) was sent twice: XOR deleted it
        assert got == {1: 1, 2: 1, 3: 3, 4: 3, 10: 10, 11: 10}
        committed.append(pq.read_table(ing._cur).sort_by("vid").to_pylist())
    assert committed[0] == committed[1] == committed[2]


def test_held_absorb_and_burst_collect_in_one_task(spark, tmp_path):
    """A held absorb collects its batch, and a held burst its pairs, in one
    job of one stage and one task: no exchange into a single partition."""
    from tests.conftest import job_counts

    ing = SketchStreamIngestor(spark, SketchParams.for_graph(16, seed=5), str(tmp_path / "one"))
    assert ing._held
    batch = spark.createDataFrame([(1, 2), (3, 4), (2, 5)], "a long, b long")
    _, counts = job_counts(spark, lambda: ing.absorb_batch(batch, 0))
    assert counts == (1, 1, 1)
    ing.query_components(0)
    pairs = spark.createDataFrame([(1, 5), (1, 3)], "a long, b long")
    res, counts = job_counts(spark, lambda: ing.burst_point_queries(pairs))
    assert counts[1:] == (1, 1)
    assert sorted(tuple(r) for r in res.collect()) == [(1, 3, False), (1, 5, True)]


def test_raw_batches_commit_the_same_rows_on_every_path(spark, tmp_path, monkeypatch):
    """Nulls, self-loops and reversed pairs are canonicalized the same way
    whether the held path does it in numpy or Spark does it: both placements
    commit the same rows. A distinct() batch, and any batch with AQE off,
    take the plain limit collect (more than one stage) and commit them too."""
    import pyarrow.parquet as pq

    from tests.conftest import job_counts

    n = 16
    params = SketchParams.for_graph(n, seed=3)
    raw = [[(1, 2), (2, 1), (3, None), (None, 4), (5, 5), (6, 7)], [(7, 6), (2, 3), (2, 3), (9, 8)]]
    # every pair but (8, 9) cancels; its endpoints stay vertices of the state
    expected = {1: 1, 2: 2, 3: 3, 6: 6, 7: 7, 8: 8, 9: 8}
    committed = []
    for path in ("narrow", "distinct", "aqe_off", "spark"):
        if path == "spark":
            monkeypatch.setattr(ingest, "TASK_SKETCH_BYTES", 0)
        ing = SketchStreamIngestor(spark, params, str(tmp_path / path), num_partitions=2)
        for i, batch in enumerate(raw):
            df = spark.createDataFrame(batch, "a long, b long")
            if path == "distinct":
                # the same multiset of rows, through an exchange
                df = df.distinct()
                df = df.union(df.where("a = 2 and b = 3"))
            aqe = spark.conf.get("spark.sql.adaptive.enabled")
            if path == "aqe_off":
                spark.conf.set("spark.sql.adaptive.enabled", "false")
            try:
                _, counts = job_counts(spark, lambda: ing.absorb_batch(df, i))
            finally:
                spark.conf.set("spark.sql.adaptive.enabled", aqe)
            if path != "spark":
                assert (counts[1] > 1) == (path != "narrow"), (path, counts)
        assert {r.v: r.comp for r in ing.query_components(0).collect()} == expected
        committed.append(pq.read_table(ing._cur).sort_by("vid").to_pylist())
    assert all(c == committed[0] for c in committed)


def test_out_of_range_vertex_id_raises_and_keeps_current(spark, tmp_path, monkeypatch):
    """A vertex id outside [0, n) raises ValueError naming it and n before
    the pointer flip, on both placements: CURRENT and the answers stay on
    the committed version, so no later query reads a poisoned state."""
    import pytest

    n = 16
    params = SketchParams.for_graph(n, seed=5)
    for placement in _placements(monkeypatch):
        sd = tmp_path / f"range_{placement}"
        ing = SketchStreamIngestor(spark, params, str(sd), num_partitions=2)
        ing.absorb_batch(spark.createDataFrame([(1, 2)], "a long, b long"), 0)
        current = (sd / "CURRENT").read_text()
        for bad, vid in (((1, 300), 300), ((-1, 5), -1), ((3, 16), 16)):
            with pytest.raises(ValueError, match=rf"vertex id {vid} .* n = {n}"):
                ing.absorb_batch(spark.createDataFrame([bad], "a long, b long"), 1)
        assert (sd / "CURRENT").read_text() == current
        assert {r.v: r.comp for r in ing.query_components(0).collect()} == {1: 1, 2: 1}
