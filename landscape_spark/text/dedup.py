"""Deduplication operators: exact, n-gram Jaccard, MinHash+LSH, SimHash.

Exact and n-gram-Jaccard are pure DataFrame plans with bit-matching DuckDB
oracles. MinHash-LSH and SimHash are the scale paths (candidate generation is
hash-bucketed, never all-pairs); their candidates are exact-verified, and the
tests check them against the all-pairs truth.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from landscape_spark.hashing import splitmix64

NGRAM = 3


def exact_duplicates(docs: DataFrame) -> DataFrame:
    """(doc_id, keep_id): canonical representative (min doc_id) per identical
    text (md5 key). Scale: one shuffle on the 16-byte digest, never the text."""
    fp = docs.select("doc_id", F.md5(F.col("text").cast("binary")).alias("fp"))
    keep = fp.groupBy("fp").agg(F.min("doc_id").alias("keep_id"))
    return fp.join(keep, on="fp").select("doc_id", "keep_id")


def shingles(docs: DataFrame, n: int = NGRAM) -> DataFrame:
    """Distinct character n-gram shingles per doc: (doc_id, sh). Docs
    shorter than n have NO shingles (guarded explicitly: Spark's
    sequence(1, 0) infers step -1 and returns [1, 0] — an unguarded
    greatest(length-{n-1}, 0) bound would emit a spurious whole-text
    shingle for short docs where the DuckDB oracle's range(1, 1) is
    empty)."""
    return (
        docs.select(
            "doc_id",
            F.explode(
                F.expr(
                    f"case when length(text) >= {n} then "
                    f"transform(sequence(1, length(text) - {n - 1}),"
                    f" i -> substring(text, i, {n})) "
                    f"else array() end"
                )
            ).alias("sh"),
        )
        .distinct()
    )


def byte_shingles(docs: DataFrame, n: int = NGRAM) -> DataFrame:
    """Distinct BYTE n-gram shingles per doc: (doc_id, sh binary). The
    MinHash pipeline's signature kernel packs byte windows (identical to
    char n-grams on ASCII), so its exact verification must score the SAME
    byte shingles — using char shingles there lets a multibyte pair's
    byte-Jaccard estimate sit arbitrarily far from its char-Jaccard and
    break the screen-margin guarantee."""
    return (
        docs.select(
            "doc_id",
            F.explode(
                F.expr(
                    f"case when octet_length(text) >= {n} then "
                    f"transform(sequence(1, octet_length(text) - {n - 1}),"
                    f" i -> substring(cast(text as binary), i, {n})) "
                    f"else array() end"
                )
            ).alias("sh"),
        )
        .distinct()
    )


def ngram_jaccard_pairs(docs: DataFrame, threshold: float = 0.5) -> DataFrame:
    """All pairs (doc_lo, doc_hi, jac) with n-gram Jaccard >= threshold.
    Plan: shingle inverted index self-join (pairs meet only on shared
    shingles — the sparse analog of a similarity join), then |A|,|B| sizes
    joined in, J = inter / (|A|+|B|-inter). Exact; oracle-matched."""
    sh = shingles(docs).cache()
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
    a = sh.select(F.col("doc_id").alias("doc_lo"), "sh")
    b = sh.select(F.col("doc_id").alias("doc_hi"), "sh")
    inter = (
        a.join(b, on="sh")
        .where(F.col("doc_lo") < F.col("doc_hi"))
        .groupBy("doc_lo", "doc_hi")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    out = (
        inter.join(sizes.withColumnRenamed("doc_id", "doc_lo").withColumnRenamed("sz", "sz_lo"), on="doc_lo")
        .join(sizes.withColumnRenamed("doc_id", "doc_hi").withColumnRenamed("sz", "sz_hi"), on="doc_hi")
        .select(
            "doc_lo",
            "doc_hi",
            (F.col("inter") / (F.col("sz_lo") + F.col("sz_hi") - F.col("inter"))).alias("jac_raw"),
        )
        .where(F.col("jac_raw") >= threshold)
        .select("doc_lo", "doc_hi", F.round("jac_raw", 6).alias("jac"))
    )
    return out


# Shared n-gram pair-generation CTEs (shingles -> sizes -> intersections):
# formatted into BOTH the ngram_jaccard oracle and the near_dup_groups
# oracle so the two can never silently drift to different pair semantics.
# MATERIALIZED throughout: DuckDB inlines plain CTEs per reference, and sh
# is referenced twice by the self-join (and everything repeatedly by the
# groups oracle's recursive closure).
_PAIR_CTES_TMPL = """sh AS MATERIALIZED (
  SELECT DISTINCT doc_id,
         substr(text, CAST(i AS INT), {n}) AS sh
  FROM (SELECT doc_id, text,
               UNNEST(range(1, GREATEST(length(text) - {nm1}, 0) + 1)) AS i
        FROM documents)
),
sizes AS MATERIALIZED (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
inter AS MATERIALIZED (
  SELECT a.doc_id AS doc_lo, b.doc_id AS doc_hi, COUNT(*) AS inter
  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)"""

NGRAM_JACCARD_SQL_TMPL = (
    "WITH " + _PAIR_CTES_TMPL + """
SELECT doc_lo, doc_hi,
       ROUND(CAST(inter AS DOUBLE) / (sl.sz + sr.sz - inter), 6) AS jac
FROM inter
JOIN sizes sl ON sl.doc_id = doc_lo
JOIN sizes sr ON sr.doc_id = doc_hi
WHERE CAST(inter AS DOUBLE) / (sl.sz + sr.sz - inter) >= {threshold}
"""
)


def ngram_jaccard_sql(threshold: float = 0.5, n: int = NGRAM) -> str:
    return NGRAM_JACCARD_SQL_TMPL.format(n=n, nm1=n - 1, threshold=threshold)


def near_dup_groups(docs: DataFrame, pairs: DataFrame) -> DataFrame:
    """(doc_id, keep_id): the pairs->groups composition a training-data
    pipeline actually runs with near-dup output — connected components over
    the dup-pair graph, one keeper (min doc_id) per group, every unpaired
    doc keeping itself.

    ``pairs`` is any dup-pair DataFrame with (doc_lo, doc_hi) columns —
    exact n-gram Jaccard, MinHash-LSH, SimHash, or embedding near-dup
    output (union several families first to dedup across signals; the
    components of the union are exactly the transitive dup groups).

    Plan: CC runs ONLY over pair-incident vertices (at scale the dup-pair
    graph is a sliver of the corpus, so its edges usually fit the driver
    and exact CC finishes there in one collect), then one left join
    assigns keepers corpus-wide; comp labels ARE min ids, so the keeper
    needs no extra aggregation. Reuses the engine's own CC
    operator (graph/cc.py) on the derived graph — the same machinery the
    reference applies to its edge streams."""
    from landscape_spark.graph.cc import connected_components_exact

    edges = (
        pairs.select(
            F.least("doc_lo", "doc_hi").alias("a"),
            F.greatest("doc_lo", "doc_hi").alias("b"),
        )
        .where(F.col("a") != F.col("b"))
        .distinct()
    )
    pv = (
        edges.select(F.col("a").alias("v"))
        .unionAll(edges.select(F.col("b").alias("v")))
        .distinct()
    )
    comp = connected_components_exact(edges, pv).withColumnRenamed("v", "doc_id")
    return (
        docs.select("doc_id")
        .join(comp, on="doc_id", how="left")
        .select("doc_id", F.coalesce("comp", F.col("doc_id")).alias("keep_id"))
    )


NEAR_DUP_GROUPS_SQL_TMPL = (
    "WITH RECURSIVE " + _PAIR_CTES_TMPL + """,
dpairs AS MATERIALIZED (
  SELECT doc_lo, doc_hi
  FROM inter
  JOIN sizes sl ON sl.doc_id = doc_lo
  JOIN sizes sr ON sr.doc_id = doc_hi
  WHERE CAST(inter AS DOUBLE) / (sl.sz + sr.sz - inter) >= {threshold}
),
sym AS MATERIALIZED (
  SELECT doc_lo AS v, doc_hi AS w FROM dpairs
  UNION ALL SELECT doc_hi, doc_lo FROM dpairs
),
cc(v, l) AS (
  SELECT v, v FROM (SELECT DISTINCT v FROM sym)
  UNION
  SELECT s.w, cc.l FROM cc JOIN sym s ON s.v = cc.v
),
labels AS (SELECT v, MIN(l) AS keep FROM cc GROUP BY v)
SELECT d.doc_id AS doc_id, COALESCE(lab.keep, d.doc_id) AS keep_id
FROM documents d LEFT JOIN labels lab ON lab.v = d.doc_id
"""
)


def near_dup_groups_sql(threshold: float = 0.5, n: int = NGRAM) -> str:
    """DuckDB oracle for near_dup_groups over exact n-gram Jaccard pairs
    (recursive-CTE CC + min-per-group keeper, same shape as the cc oracle)."""
    return NEAR_DUP_GROUPS_SQL_TMPL.format(n=n, nm1=n - 1, threshold=threshold)


# ---------------------------------------------------------------------------
# MinHash + LSH (scale path for near-dup at 100TB: no all-pairs join)
# ---------------------------------------------------------------------------

def minhash_signatures(
    docs: DataFrame, num_hashes: int = 64, seed: int = 42, n: int = NGRAM
) -> DataFrame:
    """(doc_id, sig array<long>): MinHash over byte n-gram shingles, computed
    in ONE mapInArrow scan of the documents table with ZERO shuffle.

    Documents are already unique rows, so nothing needs to be co-located:
    the kernel reads the Arrow string column's offsets+data buffers directly,
    packs every n-byte window into a uint64 (n <= 8), splitmix64-mixes it,
    and takes per-document minimum.reduceat for each of the num_hashes
    derived functions — pure vectorized numpy over the batch's concatenated
    text bytes. (Round 2 exploded every shingle, xxhash64'd it JVM-side, then
    shuffled the whole shingle stream by doc_id just to regroup rows that
    were never apart — that shuffle moved ~|corpus| rows for nothing.)

    Shingles here are BYTE n-grams (identical to character n-grams on ASCII;
    a consistent re-definition on multibyte text — both docs of a pair hash
    the same way, so the Jaccard estimate is unbiased either way). Min over
    a multiset equals min over the distinct set, so no dedup is needed.
    Documents shorter than n bytes have no shingles and emit no row.

    Parallelism: at warehouse scale the parquet scan has plenty of input
    splits and the kernel runs shuffle-free; a small LOCAL corpus can arrive
    as 1-2 splits, which would serialize the kernel — only then the doc rows
    are repartitioned first (a shuffle of raw doc bytes, still ~16x less
    traffic than round 2's exploded-shingle shuffle)."""
    assert 1 <= n <= 8, "byte-window packing supports n-gram n <= 8"
    from landscape_spark.session import local_parallelism

    src = docs.select("doc_id", "text")
    target = local_parallelism(docs.sparkSession)
    if src.rdd.getNumPartitions() < max(2, target // 2):
        src = src.repartition(target)

    def sig(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        seeds = splitmix64(np.arange(num_hashes, dtype=np.uint64) + np.uint64(seed << 8))
        mix0 = splitmix64(np.uint64(seed))
        for b in batches:
            if b.num_rows == 0:
                continue
            ids = b.column("doc_id").to_numpy(zero_copy_only=False).astype(np.int64)
            ta = b.column("text")
            bufs = ta.buffers()
            off_dtype = (
                np.int64 if pa.types.is_large_string(ta.type) else np.int32
            )
            offs = np.frombuffer(bufs[1], dtype=off_dtype)[
                ta.offset : ta.offset + len(ta) + 1
            ].astype(np.int64)
            lens = offs[1:] - offs[:-1]
            nw = np.maximum(lens - (n - 1), 0)
            keep = nw > 0
            if not keep.any():
                # guard BEFORE touching the data buffer: an all-empty/all-null
                # batch has bufs[2] = None and frombuffer would raise
                continue
            data = np.frombuffer(bufs[2], dtype=np.uint8)
            start = int(offs[0])
            seg = data[start : int(offs[-1])]
            m = len(seg)
            # every n-byte window of the batch's concatenated text, packed
            # little-endian into uint64 (doc-crossing windows masked out by
            # the per-doc segment gather below)
            W = np.zeros(m - n + 1, dtype=np.uint64)
            for i in range(n):
                W |= seg[i : m - n + 1 + i].astype(np.uint64) << np.uint64(8 * i)
            reps = nw[keep]
            base = np.repeat(offs[:-1][keep] - start, reps)
            csum = np.cumsum(reps)
            within = np.arange(int(csum[-1])) - np.repeat(csum - reps, reps)
            vals = splitmix64(W[base + within] ^ mix0)
            segs = csum - reps  # reduceat starts (strictly increasing)
            out = np.empty((int(keep.sum()), num_hashes), dtype=np.uint64)
            for i in range(num_hashes):
                out[:, i] = np.minimum.reduceat(splitmix64(vals ^ seeds[i]), segs)
            flat = pa.array(out.reshape(-1).view(np.int64), type=pa.int64())
            list_offs = pa.array(
                np.arange(int(keep.sum()) + 1, dtype=np.int32) * num_hashes,
                type=pa.int32(),
            )
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(ids[keep], type=pa.int64()),
                    pa.ListArray.from_arrays(list_offs, flat),
                ],
                names=["doc_id", "sig"],
            )

    return src.mapInArrow(sig, "doc_id long, sig array<long>")


def tune_banding(
    threshold: float, num_hashes: int, target_recall: float = 0.995
) -> tuple[int, int]:
    """(bands, rows_per_band) for the S-curve 1-(1-t^r)^b: the most selective
    r (fewest sub-threshold candidate pairs) whose theoretical recall AT the
    threshold still meets target_recall with b = num_hashes // r. On corpora
    dense in moderately-similar pairs, selectivity is the whole game: r=4
    admits ~64%% of J=0.5 pairs where r=6 admits ~28%%."""
    for r in range(8, 1, -1):
        b = num_hashes // r
        if b >= 1 and 1.0 - (1.0 - threshold**r) ** b >= target_recall:
            return b, r
    return num_hashes, 1


def lsh_candidate_pairs(
    sigs: DataFrame, bands: int = 32, rows_per_band: int = 2
) -> DataFrame:
    """Band the signatures: docs sharing any band-hash become candidates.
    One shuffle on (band, band_hash) — never an all-pairs product."""
    banded = sigs.select(
        "doc_id",
        F.explode(
            F.expr(
                f"transform(sequence(0, {bands - 1}),"
                f" b -> struct(b AS band, hash(slice(sig, b * {rows_per_band} + 1, {rows_per_band})) AS bh))"
            )
        ).alias("bb"),
    ).select("doc_id", F.col("bb.band").alias("band"), F.col("bb.bh").alias("bh"))
    a = banded.select(F.col("doc_id").alias("doc_lo"), "band", "bh")
    b = banded.select(F.col("doc_id").alias("doc_hi"), "band", "bh")
    return (
        a.join(b, on=["band", "bh"])
        .where(F.col("doc_lo") < F.col("doc_hi"))
        .select("doc_lo", "doc_hi")
        .distinct()
    )


def minhash_lsh_dedup(
    docs: DataFrame,
    threshold: float = 0.8,
    num_hashes: int = 128,
    bands: int | None = None,
    seed: int = 42,
    est_margin: float = 0.15,
) -> DataFrame:
    """Near-dup pairs via MinHash-LSH candidates, EXACT-verified with true
    n-gram Jaccard computed ONLY for the candidate pairs (array_intersect on
    per-doc shingle sets — never the all-pairs shingle self-join, which
    explodes quadratically on hot shingles; that quadratic exact join lives
    in ngram_jaccard_pairs as the small-scale baseline).

    Banding geometry auto-tunes to the threshold (tune_banding): the most
    selective rows_per_band whose theoretical recall at the threshold stays
    >= 0.995 — on self-similar corpora (millions of J~0.5 pairs) selectivity
    dominates the wall-clock, since every admitted sub-threshold pair costs
    a screen-join row. Pass ``bands`` to pin the geometry explicitly
    (rows_per_band = num_hashes // bands, the round-2 behavior).

    Verify-at-threshold: candidates are first SCREENED by the signature
    Jaccard estimate (matching minhash fraction — a JVM column expression),
    and the heavy shingle-set fetch runs only for pairs with estimate >=
    threshold - est_margin. With 128 hashes the estimate's sigma at J=0.8 is
    ~0.035, so the default 0.15 margin (~4.2 sigma) drops a true positive
    w.p. ~1e-5 — output rows are unchanged (w.h.p.) while sub-threshold
    candidate mass never touches the shingle sets. Exact verification
    intersects xxhash64-HASHED shingle sets (8-byte longs, not strings; a
    false intersection needs a 64-bit collision inside one pair's sets,
    ~1e-13).

    Output pairs verify against BYTE n-gram Jaccard — the same shingle
    space the signatures estimate (== char n-grams on ASCII, where output
    ⊆ ngram_jaccard_pairs; on multibyte text byte-shingling is the
    consistent end-to-end definition). Recall measured in tests. Returns
    (doc_lo, doc_hi, jac)."""
    if bands is None:
        bands, rows_per_band = tune_banding(threshold, num_hashes)
    else:
        rows_per_band = num_hashes // bands
        if rows_per_band < 1:
            raise ValueError(
                f"bands={bands} > num_hashes={num_hashes}: rows_per_band "
                "would be 0 and every empty band slice would hash "
                "identically corpus-wide — a silent all-pairs explosion"
            )
    sigs = minhash_signatures(docs, num_hashes=num_hashes, seed=seed).cache()
    cands = lsh_candidate_pairs(sigs, bands=bands, rows_per_band=rows_per_band)
    est = F.size(
        F.filter(F.zip_with("sig_lo", "sig_hi", lambda x, y: x == y), lambda b: b)
    ) / F.lit(float(num_hashes))
    screened = (
        cands.join(
            sigs.select(F.col("doc_id").alias("doc_lo"), F.col("sig").alias("sig_lo")),
            on="doc_lo",
        )
        .join(
            sigs.select(F.col("doc_id").alias("doc_hi"), F.col("sig").alias("sig_hi")),
            on="doc_hi",
        )
        .where(est >= threshold - est_margin)
        .select("doc_lo", "doc_hi")
        .localCheckpoint(eager=True)  # reused twice below; tiny
    )
    # signatures are consumed entirely by the (now-materialized) screen —
    # release the cache instead of pinning it until session end. The
    # release cannot force a recompute: the eager checkpoint cut the
    # screen's lineage, so the result's plan holds no signature kernel
    # (MapInArrow) and no cached relation, only the checkpoint's LogicalRDD
    # (test_text.py::test_minhash_lsh_recall checks that plan)
    sigs.unpersist()
    # fetch shingle sets ONLY for docs that survived screening (semi-join
    # pushdown: at scale the near-threshold docs are a sliver of the corpus)
    cand_docs = (
        screened.select(F.col("doc_lo").alias("doc_id"))
        .unionAll(screened.select(F.col("doc_hi").alias("doc_id")))
        .distinct()
    )
    sets = (
        byte_shingles(docs.join(cand_docs, on="doc_id", how="left_semi"))
        .select("doc_id", F.xxhash64("sh", F.lit(seed + 7)).alias("shh"))
        .groupBy("doc_id")
        .agg(F.collect_set("shh").alias("shs"))
    )
    inter = F.size(F.array_intersect("sh_lo", "sh_hi"))
    return (
        screened.join(
            sets.select(F.col("doc_id").alias("doc_lo"), F.col("shs").alias("sh_lo")),
            on="doc_lo",
        )
        .join(
            sets.select(F.col("doc_id").alias("doc_hi"), F.col("shs").alias("sh_hi")),
            on="doc_hi",
        )
        .withColumn("inter", inter)
        .withColumn(
            "jac_raw",
            F.col("inter")
            / (F.size("sh_lo") + F.size("sh_hi") - F.col("inter")),
        )
        .where(F.col("jac_raw") >= threshold)
        .select("doc_lo", "doc_hi", F.round("jac_raw", 6).alias("jac"))
    )


# ---------------------------------------------------------------------------
# SimHash (64-bit) — near-dup by Hamming distance on token-hash majorities
# ---------------------------------------------------------------------------

# Java regex \s (default flags, what regexp_extract_all('\\S+') splits on) is
# ASCII-only: [ \t\n\x0B\f\r]. In UTF-8 no multibyte character contains an
# ASCII byte, so BYTE-level splitting on these 6 values is exactly
# character-level \S+ tokenization.
_WS_LUT = np.zeros(256, dtype=bool)
_WS_LUT[[0x20, 0x09, 0x0A, 0x0B, 0x0C, 0x0D]] = True


def simhash(docs: DataFrame, seed: int = 42) -> DataFrame:
    """(doc_id, simhash long): sign-aggregated 64-bit token-hash sketch,
    computed in ONE mapInArrow scan of the documents table with ZERO shuffle
    — tokenize + hash + bit-vote fused into a single vectorized kernel over
    the batch's Arrow string buffers (the same zero-shuffle rework that took
    minhash_signatures from a full-corpus exploded-token shuffle to a single
    scan). Token hashes are BIT-IDENTICAL to the previous JVM pipeline
    (`xxhash64(tok, lit(seed))`): hashing.xxhash64_bytes/_int reimplement
    Spark's XXH64 exactly, so simhash values (and the downstream near-pair
    sets) are unchanged.

    Documents are unique rows, so nothing ever needed co-locating: the old
    plan exploded every token, hashed JVM-side, then repartition(doc_id)-
    shuffled the entire token-hash stream just to regroup rows that were
    never apart. Docs with no tokens (incl. null text) get simhash 0.

    Parallelism: same adaptive rule as minhash_signatures — a small local
    corpus arriving as 1-2 input splits is repartitioned (raw doc rows)
    so the kernel isn't serialized; at warehouse scale the scan has plenty
    of splits and the plan is exchange-free."""
    from landscape_spark.session import local_parallelism

    src = docs.select("doc_id", "text")
    target = local_parallelism(docs.sparkSession)
    if src.rdd.getNumPartitions() < max(2, target // 2):
        src = src.repartition(target)
    # match F.lit(seed)'s Catalyst type: int32 literals fold via XXH64.hashInt
    seed_fits_int = -(1 << 31) <= seed < (1 << 31)

    def sh(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        from landscape_spark.hashing import xxhash64_bytes, xxhash64_int, xxhash64_long

        for b in batches:
            if b.num_rows == 0:
                continue
            ids = b.column("doc_id").to_numpy(zero_copy_only=False).astype(np.int64)
            ta = b.column("text")
            bufs = ta.buffers()
            off_dtype = np.int64 if pa.types.is_large_string(ta.type) else np.int32
            offs = np.frombuffer(bufs[1], dtype=off_dtype)[
                ta.offset : ta.offset + len(ta) + 1
            ].astype(np.int64)
            ndocs = len(ids)
            word = np.zeros(ndocs, dtype=np.uint64)
            if offs[-1] > offs[0] and bufs[2] is not None:
                data = np.frombuffer(bufs[2], dtype=np.uint8)
                start = int(offs[0])
                seg = data[start : int(offs[-1])]
                m = len(seg)
                nonws = ~_WS_LUT[seg]
                doc_start_rel = offs[:-1] - start
                # doc boundaries force token breaks (texts are concatenated
                # in the buffer; a token must never span two documents)
                brk = np.zeros(m, dtype=bool)
                nonempty = offs[1:] > offs[:-1]
                brk[doc_start_rel[nonempty]] = True
                prev_nonws = np.empty(m, dtype=bool)
                prev_nonws[0] = False
                prev_nonws[1:] = nonws[:-1]
                tok_starts = np.flatnonzero(nonws & (~prev_nonws | brk))
                if len(tok_starts):
                    nxt_nonws = np.empty(m, dtype=bool)
                    nxt_nonws[-1] = False
                    nxt_nonws[:-1] = nonws[1:]
                    nxt_brk = np.empty(m, dtype=bool)
                    nxt_brk[-1] = True
                    nxt_brk[:-1] = brk[1:]
                    tok_ends = np.flatnonzero(nonws & (~nxt_nonws | nxt_brk)) + 1
                    tok_lens = tok_ends - tok_starts
                    hs = xxhash64_bytes(seg, tok_starts, tok_lens, 42)
                    fold = xxhash64_int if seed_fits_int else xxhash64_long
                    hs = fold(np.full(len(hs), seed, dtype=np.int64), hs)
                    hs = splitmix64(hs)  # decorrelate from xxhash64 structure
                    tok_doc = (
                        np.searchsorted(doc_start_rel, tok_starts, side="right") - 1
                    )
                    counts = np.bincount(tok_doc, minlength=ndocs)
                    has = counts > 0
                    segs = np.cumsum(counts)[has] - counts[has]
                    w = np.zeros(int(has.sum()), dtype=np.uint64)
                    for bit in range(64):
                        ones = np.add.reduceat(
                            ((hs >> np.uint64(bit)) & np.uint64(1)).astype(np.int64),
                            segs,
                        )
                        w |= (2 * ones > counts[has]).astype(np.uint64) << np.uint64(bit)
                    word[has] = w
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(ids, type=pa.int64()),
                    pa.array(word.view(np.int64), type=pa.int64()),
                ],
                names=["doc_id", "simhash"],
            )

    return src.mapInArrow(sh, "doc_id long, simhash long")


def simhash_blocking_geometry(
    n_docs: int,
    d: int = 3,
    fbits: int = 64,
    target_pairs_per_doc: float = 16.0,
    max_blocks: int = 8,
) -> tuple[list[int], list[tuple[int, ...]]]:
    """Manku et al. (WWW'07 §3)-style multi-table blocking geometry for
    guaranteed Hamming-<=d detection, sized to the corpus.

    The fingerprint's ``fbits`` bits split into ``b`` near-equal blocks;
    one blocking table per C(b, b-d) block subset keys on the concatenation
    of that subset's bits. A pair differing in <= d bits touches <= d
    blocks, leaving >= b-d blocks clean, so SOME table keys both docs
    identically — the pigeonhole guarantee, for every b.

    ``b`` trades selectivity against table count: key width ~= fbits*(b-d)/b
    grows with b, table count C(b, d) grows too. The fixed 4x16-bit variant
    (b = d+1) admits ~N^2/2^16 candidate pairs per table under the
    uniform-fingerprint model — ~10^13 candidates at N = 10^9, a
    scale-killer. This picks the SMALLEST b whose expected total candidate
    volume t * N^2 / 2^keybits stays under target_pairs_per_doc * N
    (keybits conservatively = the narrowest table's key width):
    N=500 -> b=4 (4 tables, 16-bit keys, the classic design);
    N=10^6 -> b=5 (10 tables, 25-bit keys);
    N=10^9 -> b=6 (20 tables, 31-bit keys);
    N=10^10 -> b=7 (35 tables, 35-bit keys). Real simhashes are more
    clustered than uniform (shared topical bits), so this is a floor, not
    an exact count — the verify step is a cheap JVM bit_count either way.
    Capped at max_blocks=8 (56 tables): beyond that the per-doc explode
    fan-out costs more than the residual bucket mass.

    Returns (widths, subsets): widths[i] = bit width of block i (sums to
    fbits), subsets = the C(b, b-d) block-index tuples, one table each."""
    import math
    from itertools import combinations

    if d < 1:
        raise ValueError("guaranteed hamming distance d must be >= 1")
    n = max(2, int(n_docs))
    for b in range(d + 1, max_blocks + 1):
        widths = [fbits // b + (1 if i < fbits % b else 0) for i in range(b)]
        k = b - d
        key_bits = sum(sorted(widths)[:k])
        t = math.comb(b, k)
        if (
            t * n / (2.0**key_bits) <= target_pairs_per_doc
            or b == max_blocks
        ):
            return widths, [tuple(s) for s in combinations(range(b), k)]
    raise AssertionError("unreachable: loop always returns at max_blocks")


def _block_key(sh: F.Column, widths: list[int], offsets: list[int], subset) -> F.Column:
    """Concatenate the given blocks of a 64-bit fingerprint column into one
    long key (masking after the arithmetic shiftright keeps sign-extension
    bits out)."""
    key = F.lit(0).cast("long")
    for j in subset:
        blk = F.shiftright(sh, offsets[j]).bitwiseAND(F.lit((1 << widths[j]) - 1))
        key = F.shiftleft(key, widths[j]).bitwiseOR(blk)
    return key


def simhash_near_pairs(
    docs: DataFrame,
    max_hamming: int = 3,
    seed: int = 42,
    n_docs: int | None = None,
    blocks: int | None = None,
) -> DataFrame:
    """Near-dup pairs: multi-table permuted-block simhash blocking, verified
    by exact Hamming distance (bit_count of the XOR — cheap JVM work).

    Blocking geometry (simhash_blocking_geometry) guarantees detection for
    hamming <= min(max_hamming, 3) by pigeonhole at EVERY corpus size; the
    block count auto-scales with N so the candidate volume stays ~linear
    (the old fixed 4x16-bit variant admitted ~N^2/2^16 candidates — fine at
    gate scale, ~10^13 pairs at N=10^9). Pairs at distances above the
    guarantee are found only if their differing bits spare one table's
    blocks, so max_hamming > 3 is best-effort (complete detection at d
    needs the C(b, d)-table geometry for that d, which grows fast); the
    best-effort set depends on the geometry and hence on N — pass
    ``blocks`` to pin b explicitly when reproducibility across corpus
    sizes matters beyond the guaranteed band.

    ``n_docs``: corpus size for geometry selection; None counts the
    signature table (the count doubles as the cache materializer — the
    candidate join reuses the cached signatures).

    Candidates are dedup'd on the BARE (doc_lo, doc_hi) pair — 16
    bytes/row through the distinct's exchange — and each side's simhash is
    re-joined afterwards from the cached signature table (carrying both
    64-bit hashes through every table's candidate stream paid 2x the
    distinct shuffle for values derivable by one hash-join later).

    Docs with no tokens (simhash 0 sentinel) are EXCLUDED from pair
    mining: content-free docs are not near-duplicates of each other, and
    the shared sentinel would otherwise produce a quadratic hamming-0
    clique of empty docs."""
    s = simhash(docs, seed).where(F.col("simhash") != 0).cache()
    d = min(int(max_hamming), 3)
    if blocks is not None:
        if blocks < d + 1:
            raise ValueError(
                f"blocks={blocks} cannot guarantee hamming<={d}: the "
                f"pigeonhole needs at least d+1={d + 1} blocks"
            )
        from itertools import combinations

        widths = [64 // blocks + (1 if i < 64 % blocks else 0) for i in range(blocks)]
        subsets = [tuple(c) for c in combinations(range(blocks), blocks - d)]
    else:
        if n_docs is None:
            n_docs = s.count()  # one job; also materializes the cache
        widths, subsets = simhash_blocking_geometry(n_docs, d=d)
    offsets = [sum(widths[:i]) for i in range(len(widths))]
    tables = F.array(
        *[
            F.struct(
                F.lit(ti).alias("tbl"),
                _block_key(F.col("simhash"), widths, offsets, sub).alias("key"),
            )
            for ti, sub in enumerate(subsets)
        ]
    )
    keyed = (
        s.select("doc_id", F.explode(tables).alias("tk"))
        .select("doc_id", F.col("tk.tbl").alias("tbl"), F.col("tk.key").alias("key"))
    )
    a = keyed.select(F.col("doc_id").alias("doc_lo"), "tbl", "key")
    b = keyed.select(F.col("doc_id").alias("doc_hi"), "tbl", "key")
    cand = (
        a.join(b, on=["tbl", "key"])
        .where(F.col("doc_lo") < F.col("doc_hi"))
        .select("doc_lo", "doc_hi")
        .distinct()
    )
    ham = F.bit_count(F.col("sh_lo").bitwiseXOR(F.col("sh_hi")))
    return (
        cand.join(
            s.select(F.col("doc_id").alias("doc_lo"), F.col("simhash").alias("sh_lo")),
            on="doc_lo",
        )
        .join(
            s.select(F.col("doc_id").alias("doc_hi"), F.col("simhash").alias("sh_hi")),
            on="doc_hi",
        )
        .select("doc_lo", "doc_hi", ham.alias("hamming"))
        .where(F.col("hamming") <= max_hamming)
    )
