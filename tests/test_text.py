"""Text-analysis + dedup operators vs DuckDB oracles and pure-python truth."""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F

from landscape_spark.text import analysis, dedup


@pytest.fixture(scope="module")
def duck(sf_small):
    con = duckdb.connect()
    con.execute(
        f"CREATE TABLE documents AS SELECT * FROM '{sf_small}/documents.parquet'"
    )
    return con


@pytest.fixture(scope="module")
def docs(spark, sf_small):
    return spark.read.parquet(f"{sf_small}/documents.parquet")


def _cmp(spark_df, duck_rows):
    s = sorted(map(tuple, spark_df.collect()))
    d = sorted(map(tuple, duck_rows))
    assert s == d, f"first diff: {next(((a, b) for a, b in zip(s, d) if a != b), None)}"


def test_token_stats_parity(docs, duck):
    _cmp(analysis.with_token_stats(docs), duck.execute(analysis.TOKEN_STATS_SQL).fetchall())


def test_quality_parity(docs, duck):
    _cmp(analysis.quality_score(docs), duck.execute(analysis.QUALITY_SQL).fetchall())


def test_lang_id_parity(docs, duck):
    _cmp(analysis.lang_id(docs), duck.execute(analysis.LANG_ID_SQL).fetchall())


def test_lang_id_heuristic_multilang(spark):
    rows = [
        (0, "the cat and the dog is in the house"),
        (1, "der hund und die katze ist nicht mit ein haus"),
        (2, "le chat est dans la maison pour les enfants et que"),
        (3, "el perro es en la casa con los gatos que"),
        (4, "zzz qqq xxx"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r.pred_lang for r in analysis.lang_id(df).collect()}
    assert got == {0: "en", 1: "de", 2: "fr", 3: "es", 4: "und"}


def test_fingerprint_parity(docs, duck):
    _cmp(analysis.fingerprint(docs), duck.execute(analysis.FINGERPRINT_SQL).fetchall())


def test_exact_duplicates(spark):
    rows = [(0, "same text"), (1, "same text"), (2, "different")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r.keep_id for r in dedup.exact_duplicates(df).collect()}
    assert got == {0: 0, 1: 0, 2: 2}


def test_ngram_jaccard_parity(docs, duck):
    got = dedup.ngram_jaccard_pairs(docs, threshold=0.5)
    expected = duck.execute(dedup.ngram_jaccard_sql(threshold=0.5)).fetchall()
    _cmp(got, expected)
    assert len(expected) > 0, "fixture should contain some similar docs"


def test_minhash_lsh_recall(spark, docs):
    """LSH candidates must recover (nearly) all true near-dup pairs; output
    is exact-verified so precision is 1.0 by construction."""
    truth = {
        (r.doc_lo, r.doc_hi) for r in dedup.ngram_jaccard_pairs(docs, 0.5).collect()
    }
    result = dedup.minhash_lsh_dedup(docs, threshold=0.5)
    got = {(r.doc_lo, r.doc_hi) for r in result.collect()}
    assert got <= truth
    # the screen is an eager local checkpoint: the result's plan reads no
    # signature kernel and no cache, so releasing the signatures (as the
    # operator does) cannot make it recompute them
    plan = result._jdf.queryExecution().analyzed().toString()
    assert "MapInArrow" in dedup.minhash_signatures(docs)._jdf.queryExecution().analyzed().toString()
    assert "MapInArrow" not in plan and "InMemoryRelation" not in plan
    if truth:
        recall = len(got) / len(truth)
        assert recall >= 0.9, f"LSH recall too low: {recall}"


def test_simhash_deterministic_and_near_pairs(spark):
    base = "the quick brown fox jumps over the lazy dog " * 8
    rows = [(0, base), (1, base + "extra token"), (2, "совершенно other words entirely unrelated content")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    s1 = {r.doc_id: r.simhash for r in dedup.simhash(df).collect()}
    s2 = {r.doc_id: r.simhash for r in dedup.simhash(df).collect()}
    assert s1 == s2  # deterministic across runs
    pairs = {
        (r.doc_lo, r.doc_hi): r.hamming
        for r in dedup.simhash_near_pairs(df, max_hamming=16).collect()
    }
    assert (0, 1) in pairs  # near-identical docs collide
    assert (0, 2) not in pairs and (1, 2) not in pairs
