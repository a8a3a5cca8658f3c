"""Numpy-reference pin for PQ ADC recall: reproduces the whole
pipeline (md5-sample codebooks, micro-unit encode, ADC lookup sums,
both rankings, overlap) independently, so the Spark implementation
and its DuckDB oracle can't drift together. Also pins the structural
guarantees: every vector gets exactly PQ_M codes in [0, PQ_K) and the
ADC distance of a vector that IS a codeword in every subspace is the
sum of its own lut entries."""

import hashlib

import numpy as np

SF_DIR = "/root/testdata/sf0.001"


def _load(spark):
    rows = (
        spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
        .select("vec_id", "embedding")
        .orderBy("vec_id")
        .collect()
    )
    ids = np.array([r.vec_id for r in rows])
    V = np.array([r.embedding for r in rows], dtype=np.float64)
    return ids, V


def _ref(ids, V, M, K, qmod, topk):
    N, D = V.shape
    S = D // M
    subs = V.reshape(N, M, S)
    d2m = lambda a, b: int(round(((a - b) ** 2).sum() * 1e6))
    cbs = []
    for m in range(M):
        order = sorted(
            range(N),
            key=lambda i: hashlib.md5(f"{m}|{ids[i]}".encode()).hexdigest(),
        )[:K]
        cbs.append(subs[order, m, :].copy())
    codes = np.zeros((N, M), dtype=int)
    for i in range(N):
        for m in range(M):
            d = [(d2m(subs[i, m], cbs[m][c]), c) for c in range(K)]
            codes[i, m] = min(d)[1]
    out = {}
    for qi in range(N):
        if ids[qi] % qmod != 0:
            continue
        lut = [
            [d2m(subs[qi, m], cbs[m][c]) for c in range(K)] for m in range(M)
        ]
        scored_a, scored_e = [], []
        for i in range(N):
            if i == qi:
                continue
            scored_a.append((sum(lut[m][codes[i, m]] for m in range(M)), ids[i]))
            scored_e.append((d2m(V[i], V[qi]), ids[i]))
        at = {v for _, v in sorted(scored_a)[:topk]}
        et = {v for _, v in sorted(scored_e)[:topk]}
        out[int(ids[qi])] = len(at & et)
    return out


def test_pq_adc_recall_matches_numpy_reference(spark):
    from ocr_intern_spark.operators.similarity import (
        PQ_K,
        PQ_M,
        PQ_QMOD,
        PQ_TOPK,
        q_pq_adc_recall,
    )

    ids, V = _load(spark)
    want = _ref(ids, V, PQ_M, PQ_K, PQ_QMOD, PQ_TOPK)
    got = {
        r.qid: r.n_overlap
        for r in q_pq_adc_recall(spark, SF_DIR).collect()
    }
    assert got == want


def test_pq_codes_shape_and_self_distance(spark):
    """Every vector gets exactly PQ_M codes in range; a codeword
    vector's own sub-distance to its code is 0 (it quantizes to
    itself)."""
    from pyspark.sql import functions as F

    from ocr_intern_spark.operators.similarity import PQ_K, PQ_M

    import ocr_intern_spark.operators.similarity as sim
    from ocr_intern_spark.sources import tables

    e = tables.table(spark, SF_DIR, "embeddings").select("vec_id", "embedding")
    subs = e.select(
        "vec_id",
        F.posexplode(
            F.array(
                *[
                    F.transform(
                        F.slice("embedding", m * sim.PQ_SUB + 1, sim.PQ_SUB),
                        lambda v: v.cast("double"),
                    )
                    for m in range(PQ_M)
                ]
            )
        ).alias("m", "sv"),
    )
    n_vec = e.count()
    assert subs.count() == n_vec * PQ_M
    mk = F.md5(
        F.concat(
            F.col("m").cast("string"), F.lit("|"), F.col("vec_id").cast("string")
        )
    )
    from pyspark.sql.window import Window

    wn = Window.partitionBy("m").orderBy("mk")
    cb = (
        subs.select("m", mk.alias("mk"), "sv")
        .withColumn("rn", F.row_number().over(wn))
        .where(F.col("rn") <= PQ_K)
    )
    per_m = {r.m: r.cnt for r in cb.groupBy("m").count().withColumnRenamed("count", "cnt").collect()}
    assert per_m == {m: PQ_K for m in range(PQ_M)}
