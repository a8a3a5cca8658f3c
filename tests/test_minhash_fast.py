"""Verification for the production MinHash path (xxhash64 → BIGINT
signatures, VERDICT r1 item 4).

The fast path now ALSO has a hash-checked oracle (a materialized
golden from the pure-Python XXH64 spec implementation in
oracle/xxh64.py — see tests/test_xxh64_oracle.py); independently of
that, it is pinned three ways here:

1. Determinism/stability: signatures are identical regardless of input
   partitioning (min is commutative over partitions — any dependence on
   partition layout would be a correctness bug at cluster scale).
2. Bucket recall vs ground truth: every true near-dup pair (exact
   shingle-Jaccard >= 0.5, from the oracle-green q_ngram_jaccard_pairs)
   must collide in at least one LSH band under BOTH hash families.
   Band-level set equality across families is NOT expected (different
   hash functions bucket borderline pairs differently); recall on true
   dups is the property that matters for a dedup pipeline.
3. Candidate-volume sanity: the fast family should not produce wildly
   more candidate groups than the md5 family on the same corpus.
"""

import pytest
from pyspark.sql import functions as F

from ocr_intern_spark.operators.dedup import (
    q_minhash_fast,
    q_minhash_fast_lsh_buckets,
    q_minhash_lsh_buckets,
    q_ngram_jaccard_pairs,
)

SF_DIR = "/root/testdata/sf0.001"


def _candidate_pairs(spark, bucket_fn):
    """All unordered doc pairs sharing any (band, bucket)."""
    # recompute the pre-HAVING bucket table: join docs within buckets
    # (test-size corpus; fine to self-join here)
    buckets = bucket_fn(spark, SF_DIR)
    # bucket_fn emits only first/last doc per bucket (the candidate
    # GROUP summary); for recall we need full membership, so rebuild
    # membership the same way the query does — via its own plan is
    # private, so pair first/last as a lower bound is not enough.
    # Instead: recall is checked on first/last pairs per bucket PLUS
    # a direct membership reconstruction below in the calling test.
    return buckets


def _bucket_membership(spark, fast: bool):
    """(doc_id, band, bucket) membership table, mirroring the query's
    banding exactly (2 rows/band over 8 seeds)."""
    from ocr_intern_spark.operators.dedup import (
        LSH_BANDS,
        MINHASH_SEEDS,
        _shingles,
        minhash_signature_cols,
    )
    from ocr_intern_spark.sources import tables

    d = tables.documents(spark, SF_DIR)
    if fast:
        aggs = [
            F.min(F.xxhash64(F.lit(s), F.col("shingle"))).alias(f"mh{s}")
            for s in range(MINHASH_SEEDS)
        ]
    else:
        aggs = minhash_signature_cols()
    sig = _shingles(d, blur=False).groupBy("doc_id").agg(*aggs)
    rows_per_band = MINHASH_SEEDS // LSH_BANDS
    bands = []
    for band in range(LSH_BANDS):
        cols = [F.col(f"mh{band * rows_per_band + r}") for r in range(rows_per_band)]
        key = F.xxhash64(*cols) if fast else F.md5(F.concat_ws("|", *cols))
        bands.append(
            F.struct(F.lit(band).alias("band"), key.cast("string").alias("bucket"))
        )
    return sig.select(
        "doc_id", F.explode(F.array(*bands)).alias("b")
    ).select("doc_id", "b.band", "b.bucket")


def _pairs_from_membership(mem):
    m2 = mem.select(
        F.col("band"), F.col("bucket"), F.col("doc_id").alias("other")
    )
    pairs = (
        mem.join(m2, ["band", "bucket"])
        .where(F.col("doc_id") < F.col("other"))
        .select(F.col("doc_id").alias("a"), F.col("other").alias("b"))
        .distinct()
    )
    return {(r["a"], r["b"]) for r in pairs.collect()}


@pytest.fixture(scope="module")
def true_pairs(spark):
    rows = q_ngram_jaccard_pairs(spark, SF_DIR).collect()
    return {(min(r["a"], r["b"]), max(r["a"], r["b"])) for r in rows}


def test_fast_signatures_partition_invariant(spark):
    sig1 = q_minhash_fast(spark, SF_DIR)
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    # same computation over a radically different layout
    from ocr_intern_spark.operators.dedup import MINHASH_SEEDS, _shingles

    sig2 = (
        _shingles(docs.repartition(1), blur=False)
        .groupBy("doc_id")
        .agg(
            *[
                F.min(F.xxhash64(F.lit(s), F.col("shingle"))).alias(f"mh{s}")
                for s in range(MINHASH_SEEDS)
            ]
        )
        .orderBy("doc_id")
    )
    assert [tuple(r) for r in sig1.collect()] == [tuple(r) for r in sig2.collect()]


def test_fast_lsh_recall_matches_md5_family(spark, true_pairs):
    assert true_pairs, "ground-truth corpus should contain near-dups"
    fast_pairs = _pairs_from_membership(_bucket_membership(spark, fast=True))
    md5_pairs = _pairs_from_membership(_bucket_membership(spark, fast=False))
    # every true near-dup must be recalled by BOTH hash families —
    # high-similarity pairs share most shingles, so some band of the
    # 4x2 config collides with overwhelming probability
    missed_fast = true_pairs - fast_pairs
    missed_md5 = true_pairs - md5_pairs
    assert not missed_fast, f"fast LSH missed true dups: {sorted(missed_fast)[:5]}"
    assert not missed_md5, f"md5 LSH missed true dups: {sorted(missed_md5)[:5]}"
    # candidate volume same order of magnitude (false-positive rate is
    # a property of the banding config, not the hash family)
    assert len(fast_pairs) <= 3 * max(len(md5_pairs), 1)
    assert len(md5_pairs) <= 3 * max(len(fast_pairs), 1)


def test_fast_lsh_buckets_query_shape(spark):
    out = q_minhash_fast_lsh_buckets(spark, SF_DIR)
    assert out.columns == ["band", "bucket", "n_docs", "first_doc", "last_doc"]
    rows = out.collect()
    assert all(r["n_docs"] > 1 for r in rows)
    # dup groups exist in the corpus, so buckets must be non-empty
    assert rows
