"""Pins for `similarity.pairwise_topk`, the driver-side numpy kernel
that scores the exact kNN join: its raw cosines are bit-equal to the
Spark fold, and `q_knn_join_topk` over it returns the rows, in order,
of the broadcast-nested-loop expression it replaced (kept below as the
reference) on frames built to break a naive top-k: duplicated vectors,
a pair straddling a 6th-decimal rounding boundary, fewer vectors than
KNN_K, a NaN element. Inputs outside the contract raise."""

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ocr_intern_spark.operators import similarity
from ocr_intern_spark.operators.similarity import (
    KNN_K,
    hoisted_cosine,
    l2norm,
    pairwise_topk,
    q_knn_join_topk,
)


def _bnlj_reference(e):
    """The pair scoring q_knn_join_topk ran before the kernel: every
    ordered pair a != b through a broadcast nested-loop join, scored by
    the Spark fold with hoisted norms, rounded, ranked per vector."""
    a = e.select(
        F.col("vec_id").alias("a"),
        F.col("embedding").alias("va"),
        l2norm(F.col("embedding")).alias("na"),
    )
    b = e.select(
        F.col("vec_id").alias("b"),
        F.col("embedding").alias("vb"),
        l2norm(F.col("embedding")).alias("nb"),
    )
    scored = a.join(b, F.col("a") != F.col("b")).select(
        "a", "b",
        F.round(
            hoisted_cosine(F.col("va"), F.col("vb"), F.col("na"), F.col("nb")),
            6,
        ).alias("cos"),
    )
    w = Window.partitionBy("a").orderBy(F.desc("cos"), F.asc("b"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= KNN_K)
        .select("a", "b", "cos", "rk")
        .orderBy("a", "rk")
    )


def _write(tmp_path, vecs: dict) -> str:
    """An sf directory whose embeddings table holds vecs {id: list}."""
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array(list(vecs), pa.int64()),
                "embedding": pa.array(list(vecs.values()), pa.list_(pa.float32())),
                "label": pa.array([0] * len(vecs), pa.int32()),
            }
        ),
        tmp_path / "embeddings.parquet",
    )
    return str(tmp_path)


def _both(spark, sf_dir):
    got = [tuple(r) for r in q_knn_join_topk(spark, sf_dir).collect()]
    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    ref = [tuple(r) for r in _bnlj_reference(e).collect()]
    return got, ref


def _y_for(target: float, side: int) -> float:
    """A float32 y whose raw cosine of (1, y) against (1, 0) lies
    within 1e-7 of target, below it (side -1) or above it (side +1),
    computed with the kernel's own ops."""
    y = np.float32(np.sqrt(1.0 / target**2 - 1.0))
    toward = np.float32(np.inf if side < 0 else 0.0)  # raw falls as y grows
    for _ in range(400):
        raw = 1.0 / (1.0 * np.sqrt(1.0 + float(y) * float(y)))
        if 0 < side * (raw - target) < 1e-7:
            return float(y)
        y = np.nextafter(y, toward, dtype=np.float32)
    raise AssertionError(f"no float32 y within 1e-7 {side:+d} of {target}")


def test_raw_cosines_bit_equal_to_spark_fold(spark):
    """Every kernel raw cosine equals Spark's hoisted_cosine as a
    double (==, not approx) for 210 ordered pairs of random float32
    64-dim vectors of mixed magnitude, where a reordered sum (BLAS
    matmul) differs in the last bits."""
    rng = np.random.default_rng(20261020)
    vecs = (
        rng.standard_normal((15, 64)) * rng.uniform(0.01, 100.0, (15, 1))
    ).astype(np.float32)
    e = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id bigint, embedding array<float>",
    )
    got = {(r.a, r.b): r.raw for r in pairwise_topk(spark, e, 15).collect()}
    a = e.select(
        F.col("vec_id").alias("a"), F.col("embedding").alias("va"),
        l2norm(F.col("embedding")).alias("na"),
    )
    b = e.select(
        F.col("vec_id").alias("b"), F.col("embedding").alias("vb"),
        l2norm(F.col("embedding")).alias("nb"),
    )
    want = {
        (r.a, r.b): r.raw
        for r in a.join(b, F.col("a") != F.col("b"))
        .select(
            "a", "b",
            hoisted_cosine(
                F.col("va"), F.col("vb"), F.col("na"), F.col("nb")
            ).alias("raw"),
        )
        .collect()
    }
    assert len(want) == 210
    assert got == want


def test_topk_matches_bnlj_reference_at_rounding_ties(spark, tmp_path):
    """Vector 0's third neighbor is decided by a 6-place rounding tie:
    5 and 1 both round to 0.9, and the id tie-break picks 1 although
    its raw cosine is lower than 5's — a top-K by raw cosine alone
    would return 5. Vectors 2-4 are exact duplicates."""
    lo, hi = _y_for(0.9000005, -1), _y_for(0.9000005, +1)
    vecs = {
        0: [1.0, 0.0],
        1: [1.0, _y_for(0.9000003, +1)],
        2: [0.2, 1.0],
        3: [0.2, 1.0],
        4: [0.2, 1.0],
        5: [1.0, lo],
        6: [1.0, hi],
        7: [1.0, _y_for(0.95, +1)],
    }
    got, ref = _both(spark, _write(tmp_path, vecs))
    assert got == ref
    row0 = [(b, cos) for a, b, cos, _ in ref if a == 0]
    assert row0 == [(7, 0.95), (6, 0.900001), (1, 0.9)]
    assert [b for a, b, _, _ in ref if a == 2][:2] == [3, 4]


def test_small_frames_keep_every_neighbor(spark, tmp_path):
    """n ≤ KNN_K keeps all n - 1 neighbors; one vector gives none."""
    vecs = {i: [1.0, float(i), 0.5 * i] for i in range(KNN_K)}
    got, ref = _both(spark, _write(tmp_path, vecs))
    assert got == ref and len(got) == KNN_K * (KNN_K - 1)
    one = tmp_path / "one"
    one.mkdir()
    got, ref = _both(spark, _write(one, {9: [1.0, 2.0]}))
    assert got == ref == []


def test_nan_element_ranks_first_as_in_spark(spark, tmp_path):
    """A NaN element makes every cosine of its vector NaN, which Spark
    sorts first under desc; the kernel keeps those pairs for the rank."""
    vecs = {i: [1.0, float(i), 2.0 - i] for i in range(6)}
    vecs[4] = [1.0, float("nan"), 0.0]
    got, ref = _both(spark, _write(tmp_path, vecs))
    assert len(got) == len(ref) == 6 * KNN_K
    for (ga, gb, gc, gr), (ra, rb, rc, rr) in zip(got, ref):
        assert (ga, gb, gr) == (ra, rb, rr)
        assert gc == rc or (np.isnan(gc) and np.isnan(rc))
    assert all(b == 4 for a, b, _, rk in got if rk == 1 and a != 4)


def test_zero_norm_vector_raises(spark, tmp_path):
    """Spark's ANSI division raises on the zero norm; so does the kernel."""
    sf = _write(tmp_path, {1: [1.0, 2.0], 2: [0.0, 0.0], 3: [2.0, 1.0]})
    with pytest.raises(ValueError, match="vec_id 2: zero-norm"):
        q_knn_join_topk(spark, sf)
    e = spark.read.parquet(f"{sf}/embeddings.parquet")
    with pytest.raises(Exception, match="DIVIDE_BY_ZERO"):
        _bnlj_reference(e).collect()


def test_null_or_ragged_embedding_raises(spark, tmp_path):
    null = tmp_path / "null"
    null.mkdir()
    with pytest.raises(ValueError, match="vec_id 4: NULL embedding"):
        q_knn_join_topk(spark, _write(null, {3: [1.0, 0.0], 4: None}))
    ragged = tmp_path / "ragged"
    ragged.mkdir()
    with pytest.raises(ValueError, match="vec_id 8: 3 dims"):
        q_knn_join_topk(
            spark, _write(ragged, {7: [1.0, 0.0], 8: [1.0, 0.0, 2.0]})
        )


def test_row_bound_raises(spark, tmp_path, monkeypatch):
    monkeypatch.setattr(similarity, "KNN_MAX_ROWS", 3)
    sf = _write(tmp_path, {i: [1.0, float(i)] for i in range(5)})
    with pytest.raises(ValueError, match="KNN_MAX_ROWS = 3.*LSH/IVF"):
        q_knn_join_topk(spark, sf)
