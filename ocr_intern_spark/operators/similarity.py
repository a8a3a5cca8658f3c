"""Similarity search over embedding columns (array<float>).

* Brute-force cosine top-k: the exact baseline. Dot products run as
  native higher-order functions (zip_with + aggregate) — JVM-side,
  no Python. Top-k is ORDER BY + LIMIT → TakeOrderedAndProject
  (per-partition heap, no global sort).
* The exact all-pairs kNN join is the one exception: its pairs are
  scored by `pairwise_topk`, a numpy kernel on the driver that folds
  in the same IEEE order as dot()/l2norm(), over the eval-sized frame
  a broadcast join would gather there anyway; the rank stays in Spark.
* LSH-bucketed ANN: random-hyperplane signatures (SimHash for
  vectors) built from deterministic md5-derived hyperplanes — the
  scale path: candidates come from one groupBy on the signature,
  re-ranked exactly within buckets.

All float math is done in DOUBLE and rounded before comparison so
the DuckDB oracle (which evaluates in its own order) agrees.
"""

from __future__ import annotations

import hashlib
from collections.abc import Callable

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ocr_intern_spark.functions.text import words
from ocr_intern_spark.sources.tables import table

QUERY_VEC_ID = 0
TOP_K = 20
N_HYPERPLANES = 16
EMBED_DIM = 64


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def l2norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            a, F.lit(0.0), lambda acc, v: acc + v.cast("double") * v.cast("double")
        )
    )


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (l2norm(a) * l2norm(b))


def hoisted_cosine(a: Column, b: Column, na: Column, nb: Column) -> Column:
    """cosine() for a pair join whose sides carry precomputed L2 norms
    na = l2norm(a), nb = l2norm(b). r6: hoisting the norms OUT of the
    pair join matters because the interpreted aggregate() fold
    otherwise re-derives each norm once per PAIR (2·n times per
    vector), tripling the dominant per-pair expression work.
    dot/(na·nb) evaluates the identical IEEE ops in the identical
    order as cosine(), so every rounded value is bit-equal (oracle
    hash-exact ×3 sfs)."""
    return dot(a, b) / (na * nb)


def _cos_expr(a: Column, b: Column) -> Column:
    return F.round(cosine(a, b), 6)


def _sql_cos(a: str, b: str) -> str:
    """cosine() in DuckDB SQL, unrounded: the same double products,
    summed and divided in the same order. Each caller applies its own
    round(…, 6), round(…, 9) or floor(…·10⁶ + 0.5)."""
    return (
        f"(list_sum(list_transform(list_zip({a}, {b}), "
        "p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))) "
        f"/ (sqrt(list_sum(list_transform({a}, v -> CAST(v AS DOUBLE) * v))) "
        f"* sqrt(list_sum(list_transform({b}, v -> CAST(v AS DOUBLE) * v)))))"
    )


# the QUERY_VEC_ID probe row, as one CTE
_Q_SQL = (
    f"q AS (SELECT embedding AS qvec FROM embeddings WHERE vec_id = {QUERY_VEC_ID})"
)


def q_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-K by cosine against the QUERY_VEC_ID embedding.
    The 1-row query side is broadcast; scoring is a narrow map over
    the table — at 100 TB this is a single scan, no shuffle except
    the final top-K merge."""
    e = table(spark, sf_dir, "embeddings")
    q = (
        e.where(F.col("vec_id") == QUERY_VEC_ID)
        .select(F.col("embedding").alias("qvec"))
    )
    scored = (
        e.where(F.col("vec_id") != QUERY_VEC_ID)
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            "label",
            _cos_expr(F.col("embedding"), F.col("qvec")).alias("cos"),
        )
    )
    return scored.orderBy(F.desc("cos"), F.asc("vec_id")).limit(TOP_K)


_COSINE_TOPK_SQL = f"""
WITH {_Q_SQL}
SELECT vec_id, label, round({_sql_cos("embedding", "qvec")}, 6) AS cos
FROM embeddings, q
WHERE vec_id != {QUERY_VEC_ID}
ORDER BY cos DESC, vec_id ASC LIMIT {TOP_K}
"""


def _hyperplanes() -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes: component h[p][d] is
    derived from md5(p,d) → [-1, 1). Same values everywhere, no RNG
    state, no Date.now — reproducible across engines and runs."""
    planes = []
    for p in range(N_HYPERPLANES):
        row = []
        for d in range(EMBED_DIM):
            h = int(hashlib.md5(f"hp:{p}:{d}".encode()).hexdigest()[:8], 16)
            row.append(h / 2**31 - 1.0)
        planes.append(row)
    return planes


def lsh_signature(vec: Column) -> Column:
    """16-bit sign signature against the fixed hyperplanes, packed as
    a bit string (portable to SQL)."""
    bits = []
    for row in _hyperplanes():
        plane = F.array(*[F.lit(v) for v in row])
        bits.append(F.when(dot(vec, plane) >= 0, F.lit("1")).otherwise(F.lit("0")))
    return F.concat(*bits)


def q_ann_lsh_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN candidate buckets: signature → groupBy. Bucket stats only
    (the re-rank reuses q_cosine_topk within buckets)."""
    e = table(spark, sf_dir, "embeddings")
    return (
        e.select("vec_id", lsh_signature(F.col("embedding")).alias("sig"))
        .groupBy("sig")
        .agg(F.count("*").alias("n_vecs"), F.min("vec_id").alias("first_vec"))
        .where(F.col("n_vecs") > 1)
        .orderBy("sig")
    )


def _lsh_sig_sql() -> str:
    """lsh_signature(embedding) in SQL."""
    bit_exprs = []
    for row in _hyperplanes():
        arr = "[" + ", ".join(f"{v!r}" for v in row) + "]"
        bit_exprs.append(
            "CASE WHEN list_sum(list_transform(list_zip(embedding, "
            f"{arr}::DOUBLE[]), p -> CAST(p[1] AS DOUBLE) * p[2])) >= 0 "
            "THEN '1' ELSE '0' END"
        )
    return " || ".join(bit_exprs)


_ANN_LSH_SQL = f"""
SELECT sig, count(*) AS n_vecs, min(vec_id) AS first_vec
FROM (SELECT vec_id, {_lsh_sig_sql()} AS sig FROM embeddings)
GROUP BY sig HAVING count(*) > 1 ORDER BY sig
"""


NEARDUP_THRESHOLD = 0.4
NEARDUP_BANDS = 4  # 4 bands × 4 bits of the 16-bit signature


def q_embedding_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs via BANDED hyperplane LSH:
    candidates share at least one 4-bit signature band (explode bands
    → self-join per band → distinct pair), then exact cosine re-rank.
    Approximate by design (band recall ~50% at cos 0.4) — the
    blocking keeps it linear-ish where an all-pairs cross join is
    impossible at 10^12 rows."""
    e = table(spark, sf_dir, "embeddings")
    band_width = N_HYPERPLANES // NEARDUP_BANDS
    sig = e.select(
        "vec_id", "embedding", lsh_signature(F.col("embedding")).alias("sig")
    )
    bands = sig.select(
        "vec_id",
        "embedding",
        F.explode(
            F.array(
                *[
                    F.concat(
                        F.lit(f"{i}:"),
                        F.substring("sig", 1 + i * band_width, band_width),
                    )
                    for i in range(NEARDUP_BANDS)
                ]
            )
        ).alias("band"),
    )
    a = bands.alias("a")
    b = bands.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .groupBy(
            F.col("a.vec_id").alias("va"), F.col("b.vec_id").alias("vb")
        )
        .agg(
            F.first(F.col("a.embedding")).alias("ea"),
            F.first(F.col("b.embedding")).alias("eb"),
        )
        .select(
            "va", "vb", _cos_expr(F.col("ea"), F.col("eb")).alias("cos")
        )
    )
    return pairs.where(F.col("cos") >= NEARDUP_THRESHOLD).orderBy("va", "vb")


def _neardup_sql() -> str:
    band_width = N_HYPERPLANES // NEARDUP_BANDS
    band_rows = " UNION ALL ".join(
        f"SELECT vec_id, '{i}:' || substr(sig, {1 + i * band_width}, {band_width}) AS band FROM sig"
        for i in range(NEARDUP_BANDS)
    )
    cos = f"round({_sql_cos('ea', 'eb')}, 6)"
    return f"""
WITH sig AS (SELECT vec_id, {_lsh_sig_sql()} AS sig FROM embeddings),
bands AS ({band_rows}),
pairs AS (
  SELECT DISTINCT a.vec_id AS va, b.vec_id AS vb
  FROM bands a JOIN bands b ON a.band = b.band AND a.vec_id < b.vec_id
),
cand AS (
  SELECT p.va, p.vb, x.embedding AS ea, y.embedding AS eb
  FROM pairs p
  JOIN embeddings x ON x.vec_id = p.va
  JOIN embeddings y ON y.vec_id = p.vb
)
SELECT va, vb, {cos} AS cos
FROM cand WHERE {cos} >= {NEARDUP_THRESHOLD}
ORDER BY va, vb
"""


IVF_CELLS = 8       # coarse centroids
IVF_NPROBE = 2      # cells searched per query
IVF_TOPK = 10


def _ivf_centroids(e: DataFrame) -> DataFrame:
    """Deterministic PSEUDO-RANDOM coarse centroids: the IVF_CELLS
    vectors with the smallest md5(vec_id) — md5 order is uniform over
    the corpus, so the sample is unbiased regardless of how vec_ids
    correlate with content (the standard random-init for IVF), yet
    identical across engines so the DuckDB oracles stay exact. The
    pick is orderBy(md5).limit(k) → TakeOrderedAndProject:
    per-partition top-k then a driver merge of k·partitions rows —
    no global sort at any scale. Returns (cid, cvec), cid stable by
    md5 order."""
    from pyspark.sql.window import Window

    sample = (
        e.select(
            F.md5(F.col("vec_id").cast("string")).alias("mk"), "embedding"
        )
        .orderBy("mk")
        .limit(IVF_CELLS)
    )
    return sample.select(
        # bounded-window: frame is the IVF_CELLS-row limit above
        (F.row_number().over(Window.orderBy("mk")) - 1).alias("cid"),
        F.col("embedding").alias("cvec"),
    )


def _ivf_assign(e: DataFrame, cents: DataFrame) -> DataFrame:
    """Cell assignment: per vector the best centroid by (cos desc,
    cid asc) — a narrow argmax over IVF_CELLS broadcast codegen'd dot
    products. Returns (vec_id, cell, ccos). Shared by the IVF ANN
    index and SemDeDup, and every oracle assigns through its twin
    _assign_sql, so neither the queries nor their oracles can drift
    apart on the tie-break."""
    scored = e.crossJoin(F.broadcast(cents)).select(
        "vec_id", "cid",
        _cos_expr(F.col("embedding"), F.col("cvec")).alias("ccos"),
    )
    return scored.groupBy("vec_id").agg(
        F.max(
            F.struct(F.col("ccos"), (-F.col("cid")).alias("ncid"))
        ).alias("b")
    ).select(
        "vec_id", (-F.col("b.ncid")).alias("cell"), F.col("b.ccos").alias("ccos")
    )


def _cents_sql(src: str) -> str:
    """_ivf_centroids in SQL: (cid, cvec) from the IVF_CELLS rows of
    src with the smallest md5(vec_id)."""
    return f"""
  SELECT row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR))) - 1 AS cid,
         embedding AS cvec
  FROM {src}
  ORDER BY md5(CAST(vec_id AS VARCHAR)) LIMIT {IVF_CELLS}
"""


def _assign_sql(src: str, cents: str) -> str:
    """_ivf_assign in SQL: (vec_id, cell, ccos) for every src vector
    against the (cid, cvec) rows of cents; callers join embedding or
    label back as the Spark side does."""
    return f"""
  SELECT vec_id, cid AS cell, ccos FROM (
    SELECT vec_id, cid, ccos,
           row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cid ASC) AS rk
    FROM (
      SELECT e.vec_id, c.cid, round({_sql_cos("e.embedding", "c.cvec")}, 6) AS ccos
      FROM {src} e CROSS JOIN {cents} c
    )
  ) WHERE rk = 1
"""


def q_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style ANN: coarse quantization into IVF_CELLS cells
    (deterministic md5-sample centroids — see _ivf_centroids), then
    exact top-K within the query's IVF_NPROBE nearest cells.

    Scale shape: the centroid table is tiny and broadcast; assignment
    is a narrow map (argmax over IVF_CELLS codegen'd dot products);
    the search scans ONLY the probed cells (cell is the partition/
    cluster key at real scale, so pruning skips ~(1-nprobe/cells) of
    the data)."""
    e = table(spark, sf_dir, "embeddings")
    cents = _ivf_centroids(e)
    assigned = e.join(_ivf_assign(e, cents).drop("ccos"), "vec_id")

    # probe cells for the query vector
    qrow = e.where(F.col("vec_id") == QUERY_VEC_ID).select(
        F.col("embedding").alias("qvec")
    )
    probe = (
        cents.crossJoin(F.broadcast(qrow))
        .select("cid", _cos_expr(F.col("cvec"), F.col("qvec")).alias("qcos"))
        .orderBy(F.desc("qcos"), F.asc("cid"))
        .limit(IVF_NPROBE)
        .select("cid")
    )
    cands = assigned.join(
        F.broadcast(probe), assigned.cell == probe.cid
    ).where(F.col("vec_id") != QUERY_VEC_ID)
    return (
        cands.crossJoin(F.broadcast(qrow))
        .select(
            "vec_id", "label", "cell",
            _cos_expr(F.col("embedding"), F.col("qvec")).alias("cos"),
        )
        .orderBy(F.desc("cos"), F.asc("vec_id"))
        .limit(IVF_TOPK)
    )


_IVF_SQL = f"""
WITH cents AS ({_cents_sql("embeddings")}),
{_Q_SQL},
best AS ({_assign_sql("embeddings", "cents")}),
probe AS (
  SELECT cid FROM (
    SELECT c.cid, round({_sql_cos("c.cvec", "q.qvec")}, 6) AS qcos
    FROM cents c CROSS JOIN q
    ORDER BY qcos DESC, cid ASC LIMIT {IVF_NPROBE}
  )
),
cands AS (
  SELECT e.vec_id, e.label, b.cell, e.embedding
  FROM embeddings e JOIN best b USING (vec_id) JOIN probe p ON b.cell = p.cid
  WHERE e.vec_id != {QUERY_VEC_ID}
)
SELECT vec_id, label, cell, round({_sql_cos("embedding", "q.qvec")}, 6) AS cos
FROM cands CROSS JOIN q
ORDER BY cos DESC, vec_id ASC LIMIT {IVF_TOPK}
"""


KNN_K = 3
# Rows the exact kNN join collects to the driver: sf0.1 holds 2,000
# vectors and its tenfold sf1.0 stand-in 20,000. Past the bound the
# n² pair work belongs to the blocked LSH/IVF candidate path.
KNN_MAX_ROWS = 50_000
_PAIR_BLOCK = 1 << 22  # doubles in one probe block's pair matrix
_RANK_SLACK = 2e-6  # > the 1e-6 a 6-place round can move two scores apart


def _embedding_matrix(ids: pa.Array, emb: pa.Array) -> np.ndarray:
    """The (n, dim) float64 matrix of a collected embedding column;
    a NULL id, a NULL embedding or element, or a ragged row is outside
    the contract and raises, naming the vec_id."""
    if ids.null_count:
        raise ValueError("NULL vec_id in the kNN join input")
    if emb.null_count:
        i = int(np.argmax(emb.is_null().to_numpy(zero_copy_only=False)))
        raise ValueError(f"vec_id {ids[i].as_py()}: NULL embedding")
    lens = pc.list_value_length(emb).to_numpy(zero_copy_only=False)
    if (lens != lens[0]).any():
        i = int(np.argmax(lens != lens[0]))
        raise ValueError(
            f"vec_id {ids[i].as_py()}: {lens[i]} dims, "
            f"vec_id {ids[0].as_py()} has {lens[0]}"
        )
    flat = emb.flatten()
    if flat.null_count:
        i = int(np.argmax(flat.is_null().to_numpy(zero_copy_only=False)))
        raise ValueError(f"vec_id {ids[i // lens[0]].as_py()}: NULL element")
    return (
        flat.to_numpy(zero_copy_only=False)
        .astype(np.float64)
        .reshape(len(emb), int(lens[0]))
    )


def pairwise_topk(spark: SparkSession, e: DataFrame, k: int) -> DataFrame:
    """Candidate neighbors of every vector of e (vec_id, embedding):
    (a, b, raw) with raw the unrounded cosine, for every b ≠ a whose
    raw is within _RANK_SLACK of the k-th largest raw of a's row, so
    every pair that can tie the k-th 6-place rounded score is kept
    and the caller's round + rank decides exactly as over all pairs.
    Rows with fewer than k neighbors keep them all.

    One collect, one numpy kernel on the driver — where the broadcast
    of a pair join would gather the same frame. Exactness: each sum
    folds acc + x·y over the dims left to right from 0.0 in float64,
    norms the same fold of v·v then sqrt, and the score is
    dot / (na · nb): the IEEE ops, in order, of dot(), l2norm() and
    hoisted_cosine(), so every raw is bit-equal to theirs. No BLAS
    matmul: it reorders the sum. A NaN raw (a NaN element) selects as
    +∞ because Spark sorts NaN first under desc; a zero norm raises,
    as Spark's ANSI division does. Probe rows run in blocks whose pair
    matrix holds at most _PAIR_BLOCK doubles."""
    t = e.select("vec_id", "embedding").limit(KNN_MAX_ROWS + 1).toArrow()
    n = t.num_rows
    if n > KNN_MAX_ROWS:
        raise ValueError(
            f"exact kNN join over more than KNN_MAX_ROWS = {KNN_MAX_ROWS} "
            "vectors: generate candidates with the blocked LSH/IVF path "
            "(q_embedding_neardup_pairs / q_ivf_topk shapes) instead"
        )
    ids = t.column("vec_id").combine_chunks()
    none = np.empty(0, np.int64)
    ai, bi, raws = [none], [none], [np.empty(0)]
    if n > 1:
        v = _embedding_matrix(ids, t.column("embedding").combine_chunks())
        norm = np.zeros(n)
        for j in range(v.shape[1]):
            norm = norm + v[:, j] * v[:, j]
        norm = np.sqrt(norm)
        if (norm == 0).any():
            i = int(np.argmax(norm == 0))
            raise ValueError(
                f"vec_id {ids[i].as_py()}: zero-norm embedding, cosine undefined"
            )
        idv = ids.to_numpy()
        step = max(1, _PAIR_BLOCK // n)
        for i0 in range(0, n, step):
            p = v[i0 : i0 + step]
            acc = np.zeros((len(p), n))
            tmp = np.empty_like(acc)
            with np.errstate(all="ignore"):
                for j in range(v.shape[1]):
                    np.multiply(p[:, j : j + 1], v[:, j], out=tmp)
                    np.add(acc, tmp, out=acc)
                np.multiply(norm[i0 : i0 + len(p), None], norm, out=tmp)
                np.divide(acc, tmp, out=acc)
            self_pair = idv[i0 : i0 + len(p), None] == idv
            np.copyto(tmp, acc)
            tmp[np.isnan(tmp)] = np.inf
            tmp[self_pair] = -np.inf
            if k < n:
                kth = np.partition(tmp, n - k, axis=1)[:, n - k]
            else:
                kth = np.full(len(p), -np.inf)
            keep = (tmp >= (kth - _RANK_SLACK)[:, None]) & ~self_pair
            pi, qi = np.nonzero(keep)
            ai.append(pi + i0)
            bi.append(qi)
            raws.append(acc[pi, qi])
    return spark.createDataFrame(
        pa.table(
            {
                "a": ids.take(np.concatenate(ai)),
                "b": ids.take(np.concatenate(bi)),
                "raw": pa.array(np.concatenate(raws), pa.float64()),
            }
        )
    )


def q_knn_join_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact kNN JOIN: the top-KNN_K cosine neighbors for EVERY vector
    (not one query point) — the all-pairs baseline a similarity-graph
    build starts from. pairwise_topk scores all pairs in one driver
    kernel and keeps each vector's rank-tie candidates; Spark rounds
    them to 6 places and ranks them per vector by (cos desc, b asc),
    so both engines rank identically.

    Scale path: the kernel is guarded at KNN_MAX_ROWS vectors. At
    10^9 vectors the pair scoring is replaced by LSH-band or IVF-cell
    blocking (q_embedding_neardup_pairs / q_ivf_topk shapes)
    generating candidates per vector, re-ranked exactly — same window
    tail, blocked head. This query pins the exact semantics those
    approximations are graded against."""
    from pyspark.sql.window import Window

    w = Window.partitionBy("a").orderBy(F.desc("cos"), F.asc("b"))
    return (
        pairwise_topk(spark, table(spark, sf_dir, "embeddings"), KNN_K)
        .select("a", "b", F.round("raw", 6).alias("cos"))
        .withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= KNN_K)
        .select("a", "b", "cos", "rk")
        .orderBy("a", "rk")
    )


# shared by _KNN_JOIN_SQL and the BFS oracle below — one definition,
# so the edge set can never drift between the two queries
_KNN_CTE = f"""scored AS (
  SELECT x.vec_id AS a, y.vec_id AS b,
         round({_sql_cos("x.embedding", "y.embedding")}, 6) AS cos
  FROM embeddings x JOIN embeddings y ON x.vec_id != y.vec_id
),
ranked AS (
  SELECT a, b, cos,
         CAST(row_number() OVER (PARTITION BY a ORDER BY cos DESC, b ASC) AS INT) AS rk
  FROM scored
)"""

_KNN_JOIN_SQL = f"""
WITH {_KNN_CTE}
SELECT a, b, cos, rk FROM ranked WHERE rk <= {KNN_K} ORDER BY a, rk
"""

# the kNN edge list of the BFS and link-prediction oracles, ranked once:
# a recursive or self-joined reference to a plain CTE re-ranks all pairs
_KNN_EDGES_SQL = (
    f"edges AS MATERIALIZED (SELECT a, b FROM ranked WHERE rk <= {KNN_K})"
)


BFS_MAX_HOPS = 24  # raise-guard; measured kNN-graph diameter is ~12


def q_knn_bfs_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-source BFS over the directed kNN graph: minimum hop
    count from the QUERY_VEC_ID vector to every vector reachable by
    following top-KNN_K cosine-neighbor edges — the graph-connectivity
    view of a similarity index (how many expansion steps an
    ANN-graph walk needs to reach a target; unreachable vectors are
    the isolated islands a graph-based retriever can never surface).

    Iterative frontier expansion, Pregel-style in plain DataFrames:
    each round joins the frontier to the edge list, anti-joins
    already-visited vertices, and checkpoints — rounds = graph
    diameter (~12 here), raising if BFS_MAX_HOPS rounds don't drain
    the frontier (a silent cap would under-report hops; the oracle
    caps at the same constant so the two engines can only agree or
    loudly fail). Only the frontier count (one long) reaches the
    driver per round.

    Scale: the edge list here is the exact kNN baseline (shared with
    q_knn_join_topk — one definition both sides); at 10^9 vectors the
    edges come from the blocked LSH/IVF builds and the BFS tail —
    per-round hash joins on vertex id — is unchanged. State per round
    is frontier + visited vertex ids, never the pair matrix."""
    from ocr_intern_spark.operators.dedup import _round_checkpoint

    edges = q_knn_join_topk(spark, sf_dir).select("a", "b").persist()
    visited = spark.createDataFrame(
        [(QUERY_VEC_ID, 0)], "vec_id bigint, hops int"
    ).transform(_round_checkpoint)
    frontier = visited
    for h in range(1, BFS_MAX_HOPS + 1):
        nxt = (
            frontier.join(edges, frontier.vec_id == edges.a)
            .select(F.col("b").alias("vec_id"))
            .distinct()
            .join(visited, "vec_id", "left_anti")
            .withColumn("hops", F.lit(h))
            .transform(_round_checkpoint)
        )
        if nxt.count() == 0:
            break
        visited = visited.unionByName(nxt).transform(_round_checkpoint)
        frontier = nxt
    else:
        edges.unpersist()
        raise RuntimeError(
            f"kNN-graph BFS frontier still active after {BFS_MAX_HOPS} "
            "rounds; raise BFS_MAX_HOPS (and the oracle cap) together"
        )
    edges.unpersist()
    return visited.select(
        "vec_id", F.col("hops").cast("bigint").alias("hops")
    ).orderBy("vec_id")


_BFS_SQL = f"""
WITH RECURSIVE {_KNN_CTE},
{_KNN_EDGES_SQL},
bfs(vec_id, hops) AS (
  SELECT CAST({QUERY_VEC_ID} AS BIGINT), 0
  UNION
  SELECT e.b, bfs.hops + 1
  FROM bfs JOIN edges e ON e.a = bfs.vec_id
  WHERE bfs.hops < {BFS_MAX_HOPS}
)
SELECT vec_id, CAST(min(hops) AS BIGINT) AS hops
FROM bfs GROUP BY vec_id ORDER BY vec_id
"""


QUANT_K = 10
QUANT_QMOD = 25  # vec_id % QUANT_QMOD == 0 → evaluation query vector


def _quant_recall(
    e: DataFrame, score: Callable[[Column, Column], Column], desc: bool
) -> DataFrame:
    """The memory-for-recall harness: per evaluation query
    (vec_id % QUANT_QMOD == 0), the top-QUANT_K overlap between the
    float-cosine ranking and the ranking by score(code, qcode), over
    e's (vec_id, embedding, code) rows. Cosines are rounded to 6 and
    both rankings break ties by neighbor id, so a DuckDB oracle
    reproduces the overlaps exactly.

    Scale shape: the evaluation-query side is broadcast
    (n/QUANT_QMOD rows); one narrow scoring pass; two qid-partitioned
    ranking windows; one overlap join + count."""
    from pyspark.sql.window import Window

    qs = e.where(F.col("vec_id") % QUANT_QMOD == 0).select(
        F.col("vec_id").alias("qid"),
        F.col("embedding").alias("qemb"),
        F.col("code").alias("qcode"),
    )
    pairs = e.join(F.broadcast(qs), F.col("vec_id") != F.col("qid")).select(
        "qid",
        F.col("vec_id").alias("oid"),
        _cos_expr(F.col("embedding"), F.col("qemb")).alias("fcos"),
        score(F.col("code"), F.col("qcode")).alias("s"),
    )
    wf = Window.partitionBy("qid").orderBy(F.desc("fcos"), F.asc("oid"))
    ws = Window.partitionBy("qid").orderBy(
        F.desc("s") if desc else F.asc("s"), F.asc("oid")
    )
    ranked = pairs.select(
        "qid",
        "oid",
        F.row_number().over(wf).alias("frk"),
        F.row_number().over(ws).alias("srk"),
    )
    ftop = ranked.where(F.col("frk") <= QUANT_K).select("qid", "oid")
    stop = ranked.where(F.col("srk") <= QUANT_K).select("qid", "oid")
    hits = ftop.join(stop, ["qid", "oid"]).groupBy("qid").agg(
        F.count("*").alias("n_overlap")
    )
    return (
        qs.select("qid")
        .join(hits, "qid", "left")
        .select(
            "qid",
            F.coalesce("n_overlap", F.lit(0)).alias("n_overlap"),
            F.round(F.coalesce("n_overlap", F.lit(0)) / QUANT_K, 6).alias(
                "overlap"
            ),
        )
        .orderBy("qid")
    )


def _quant_recall_sql(coded: str, score: str, desc: bool) -> str:
    """_quant_recall in SQL: coded is a SELECT of (vec_id, embedding,
    code) rows, score an expression over code and qcode."""
    order = "DESC" if desc else "ASC"
    return f"""
WITH coded AS ({coded}),
qs AS (
  SELECT vec_id AS qid, embedding AS qemb, code AS qcode
  FROM coded WHERE vec_id % {QUANT_QMOD} = 0
),
pairs AS (
  SELECT qid, vec_id AS oid,
         round({_sql_cos("embedding", "qemb")}, 6) AS fcos,
         {score} AS s
  FROM coded, qs
  WHERE vec_id != qid
),
ranked AS (
  SELECT qid, oid,
         row_number() OVER (PARTITION BY qid ORDER BY fcos DESC, oid) AS frk,
         row_number() OVER (PARTITION BY qid ORDER BY s {order}, oid) AS srk
  FROM pairs
),
hits AS (
  SELECT f.qid, count(*) AS n_overlap
  FROM (SELECT qid, oid FROM ranked WHERE frk <= {QUANT_K}) f
  JOIN (SELECT qid, oid FROM ranked WHERE srk <= {QUANT_K}) g
    USING (qid, oid)
  GROUP BY f.qid
)
SELECT qid, CAST(coalesce(n_overlap, 0) AS BIGINT) AS n_overlap,
       round(coalesce(n_overlap, 0) / CAST({QUANT_K} AS DOUBLE), 6) AS overlap
FROM qs LEFT JOIN hits USING (qid)
ORDER BY qid
"""


def q_int8_quant_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar int8 quantization quality: per evaluation query, the
    top-QUANT_K overlap between float-cosine and int8-cosine neighbor
    rankings — the memory-for-recall trade a 10^9-vector deployment
    makes (4× smaller vectors, SIMD int dot products). Quantizer:
    symmetric per-vector absmax — q_i = round(127 · v_i / max|v|).

    Rankings use cosines rounded to 6 with id tie-breaks (the repo's
    float-portability discipline), so the DuckDB oracle reproduces
    the overlap numbers exactly."""
    scale = F.array_max(F.transform("embedding", lambda v: F.abs(v.cast("double"))))
    q8 = table(spark, sf_dir, "embeddings").select(
        "vec_id",
        "embedding",
        F.transform(
            "embedding",
            lambda v: F.round(v.cast("double") * 127.0 / scale).cast("int"),
        ).alias("code"),
    )

    def sq(v: Column) -> Column:
        return F.sqrt(F.aggregate(
            v, F.lit(0).cast("long"), lambda acc, x: acc + (x * x).cast("long"),
        ).cast("double"))

    def int_cosine(a: Column, b: Column) -> Column:
        return F.round(
            F.aggregate(
                F.zip_with(a, b, lambda x, y: (x * y).cast("long")),
                F.lit(0).cast("long"), lambda acc, v: acc + v,
            ).cast("double")
            / (sq(a) * sq(b)),
            6,
        )

    return _quant_recall(q8, int_cosine, desc=True)


_INT8_RECALL_SQL = _quant_recall_sql(
    """
  SELECT vec_id, embedding,
         list_transform(embedding,
           v -> CAST(round(CAST(v AS DOUBLE) * 127.0 /
                list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))))
                AS INT)) AS code
  FROM embeddings
""",
    """round(
           CAST(list_sum(list_transform(list_zip(code, qcode),
                p -> CAST(p[1] AS BIGINT) * CAST(p[2] AS BIGINT))) AS DOUBLE)
           / (sqrt(CAST(list_sum(list_transform(code, v -> CAST(v AS BIGINT) * v)) AS DOUBLE))
              * sqrt(CAST(list_sum(list_transform(qcode, v -> CAST(v AS BIGINT) * v)) AS DOUBLE))),
           6)""",
    desc=True,
)


BQ_BANKS = 4  # 64 dims packed as 4 × 16-bit words
BQ_BANK_BITS = 16


def _sign_banks(col: Column) -> Column:
    """Binary quantization: sign bit per dimension, packed LSB-first
    into BQ_BANKS × 16-bit integer words. Word-packed form so hamming
    distance is bit_count(xor(...)) over 4 small ints — the popcount
    kernel a real binary-ANN deployment runs over 1-bit codes, not a
    per-dimension comparison loop."""
    return F.array(
        *[
            F.aggregate(
                F.zip_with(
                    F.slice(col, BQ_BANK_BITS * k + 1, BQ_BANK_BITS),
                    F.sequence(F.lit(0), F.lit(BQ_BANK_BITS - 1)),
                    # shiftleft needs a literal shift; 2^i is exact
                    # in double for i < 16 so the cast is lossless
                    lambda v, i: F.when(
                        v.cast("double") > 0,
                        F.pow(F.lit(2.0), i).cast("int"),
                    ).otherwise(F.lit(0)),
                ),
                F.lit(0),
                lambda acc, b: acc + b,
            )
            for k in range(BQ_BANKS)
        ]
    )


def _hamming(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: F.bit_count(x.bitwiseXOR(y))),
        F.lit(0),
        lambda acc, h: acc + h,
    )


def q_binary_quant_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-bit (sign) quantization quality, companion to
    sim_int8_quant_recall at the far end of the memory-for-recall
    curve: 64-dim float32 vectors collapse to ONE 64-bit code (32×
    smaller), neighbors rank by hamming distance via xor+popcount.
    Per evaluation query: the top-QUANT_K overlap between the float-cosine
    ranking and the hamming ranking.

    Tie-breaks are total (hamming asc, vec_id asc — hamming over 64
    bits ties constantly, unlike cosine), so the DuckDB oracle
    reproduces overlaps exactly. All arithmetic is integer.

    Scale shape: codes build in one narrow pass; the evaluation-query
    side is broadcast (n/QUANT_QMOD rows); scoring is codegen'd
    integer xor/popcount — the exact kernel that makes 1-bit codes
    the RAM-resident rerank tier for 10^12-vector corpora."""
    e = table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding", _sign_banks(F.col("embedding")).alias("code")
    )
    return _quant_recall(e, _hamming, desc=False)


_BQ_BANK_SQL = (
    "list_transform(range(0, 4), k -> "
    "list_sum(list_transform(range(0, 16), i -> "
    "CASE WHEN CAST(embedding[16*k + i + 1] AS DOUBLE) > 0 "
    "THEN (1 << i) ELSE 0 END)))"
)

_BINARY_RECALL_SQL = _quant_recall_sql(
    f"SELECT vec_id, embedding, {_BQ_BANK_SQL} AS code FROM embeddings",
    """list_sum(list_transform(list_zip(code, qcode),
                  p -> bit_count(xor(CAST(p[1] AS BIGINT), CAST(p[2] AS BIGINT)))))""",
    desc=False,
)


def q_ivf_recall_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The IVF RECALL-vs-PROBES curve — the tuning table every ANN
    deployment reads before picking nprobe: per evaluation query
    (vec_id % QUANT_QMOD == 0), candidate-set size and exact-top-QUANT_K
    overlap at nprobe=1 and nprobe=2 against the shared deterministic
    IVF index (md5-sample centroids, argmax cell assignment — same
    helpers as sim_ivf_topk/semdedup so the index under measurement
    is the index the other queries search).

    Recall@K(p) = |top-K_exact ∩ top-K among candidates from the p
    nearest cells| — candidates are re-ranked by EXACT cosine, so the
    only loss is cell pruning, which is exactly what nprobe buys
    back. Monotonicity (p2 ⊇ p1 candidates ⇒ overlap_p2 ≥
    overlap_p1) is pinned in tests.

    Scale shape: centroid table broadcast; per-query cell affinity is
    a ≤cells-row frame; candidate generation is ONE hash join from
    the assignment table (cell is the cluster key at real scale, so
    the probe join IS partition pruning); ranking windows partition
    by qid. The eval frame (n/QUANT_QMOD rows) is the allowlisted
    broadcast class shared with the quantization-recall family."""
    from pyspark.sql.window import Window

    e = table(spark, sf_dir, "embeddings")
    cents = _ivf_centroids(e)
    assigned = e.join(_ivf_assign(e, cents).drop("ccos"), "vec_id").select(
        "vec_id", "embedding", "cell"
    )
    qs = e.where(F.col("vec_id") % QUANT_QMOD == 0).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    # per-query cell affinity ranks (bounded frame: IVF_CELLS rows/qid)
    qcells = (
        qs.crossJoin(F.broadcast(cents))
        .select(
            "qid",
            "cid",
            _cos_expr(F.col("cvec"), F.col("qvec")).alias("qccos"),
        )
        .select(
            "qid",
            "cid",
            F.row_number()
            .over(
                Window.partitionBy("qid").orderBy(
                    F.desc("qccos"), F.asc("cid")
                )
            )
            .alias("probe_rk"),
        )
        .where(F.col("probe_rk") <= 2)
    )
    cands = (
        assigned.join(
            F.broadcast(qcells), assigned.cell == qcells.cid
        )
        .where(F.col("vec_id") != F.col("qid"))
        .join(
            qs.withColumnRenamed("qid", "q2"),
            F.col("qid") == F.col("q2"),
        )
        .select(
            "qid",
            F.col("vec_id").alias("oid"),
            "probe_rk",
            _cos_expr(F.col("embedding"), F.col("qvec")).alias("ccand"),
        )
    )
    # exact global top-K per query
    exact = e.join(F.broadcast(qs), F.col("vec_id") != F.col("qid")).select(
        "qid",
        F.col("vec_id").alias("oid"),
        _cos_expr(F.col("embedding"), F.col("qvec")).alias("fcos"),
    )
    we = Window.partitionBy("qid").orderBy(F.desc("fcos"), F.asc("oid"))
    etop = (
        exact.select(
            "qid", "oid", F.row_number().over(we).alias("rk")
        )
        .where(F.col("rk") <= QUANT_K)
        .select("qid", "oid")
    )

    def probe_stats(max_rk: int, tag: str) -> DataFrame:
        c = cands.where(F.col("probe_rk") <= max_rk)
        w = Window.partitionBy("qid").orderBy(F.desc("ccand"), F.asc("oid"))
        top = (
            c.select("qid", "oid", F.row_number().over(w).alias("rk"))
            .where(F.col("rk") <= QUANT_K)
            .select("qid", "oid")
        )
        n_cand = c.groupBy("qid").agg(
            F.count("*").alias(f"n_cand_{tag}")
        )
        n_hit = (
            top.join(etop, ["qid", "oid"])
            .groupBy("qid")
            .agg(F.count("*").alias(f"n_overlap_{tag}"))
        )
        return n_cand.join(n_hit, "qid", "left").select(
            "qid",
            f"n_cand_{tag}",
            F.coalesce(f"n_overlap_{tag}", F.lit(0)).alias(
                f"n_overlap_{tag}"
            ),
        )
    return (
        qs.select("qid")
        .join(probe_stats(1, "p1"), "qid", "left")
        .join(probe_stats(2, "p2"), "qid", "left")
        .select(
            "qid",
            F.coalesce("n_cand_p1", F.lit(0)).alias("n_cand_p1"),
            F.coalesce("n_overlap_p1", F.lit(0)).alias("n_overlap_p1"),
            F.coalesce("n_cand_p2", F.lit(0)).alias("n_cand_p2"),
            F.coalesce("n_overlap_p2", F.lit(0)).alias("n_overlap_p2"),
        )
        .orderBy("qid")
    )


_IVF_RECALL_CURVE_SQL = f"""
WITH cents AS ({_cents_sql("embeddings")}),
best AS ({_assign_sql("embeddings", "cents")}),
qs AS (
  SELECT vec_id AS qid, embedding AS qvec
  FROM embeddings WHERE vec_id % {QUANT_QMOD} = 0
),
qcells AS (
  SELECT qid, cid, probe_rk FROM (
    SELECT q.qid, c.cid,
           row_number() OVER (PARTITION BY q.qid ORDER BY
             round({_sql_cos("c.cvec", "q.qvec")}, 6) DESC, c.cid ASC)
             AS probe_rk
    FROM cents c CROSS JOIN qs q
  ) WHERE probe_rk <= 2
),
cands AS (
  SELECT k.qid, a.vec_id AS oid, k.probe_rk,
         round({_sql_cos("a.embedding", "q.qvec")}, 6) AS ccand
  FROM best b
  JOIN embeddings a ON a.vec_id = b.vec_id
  JOIN qcells k ON b.cell = k.cid
  JOIN qs q ON q.qid = k.qid
  WHERE a.vec_id != k.qid
),
exact AS (
  SELECT q.qid, e.vec_id AS oid,
         round({_sql_cos("e.embedding", "q.qvec")}, 6) AS fcos
  FROM embeddings e CROSS JOIN qs q
  WHERE e.vec_id != q.qid
),
etop AS (
  SELECT qid, oid FROM (
    SELECT qid, oid,
           row_number() OVER (PARTITION BY qid ORDER BY fcos DESC, oid) AS rk
    FROM exact
  ) WHERE rk <= {QUANT_K}
),
p1top AS (
  SELECT qid, oid FROM (
    SELECT qid, oid,
           row_number() OVER (PARTITION BY qid ORDER BY ccand DESC, oid) AS rk
    FROM cands WHERE probe_rk <= 1
  ) WHERE rk <= {QUANT_K}
),
p2top AS (
  SELECT qid, oid FROM (
    SELECT qid, oid,
           row_number() OVER (PARTITION BY qid ORDER BY ccand DESC, oid) AS rk
    FROM cands WHERE probe_rk <= 2
  ) WHERE rk <= {QUANT_K}
),
nc1 AS (SELECT qid, count(*) AS n_cand_p1 FROM cands WHERE probe_rk <= 1 GROUP BY qid),
nc2 AS (SELECT qid, count(*) AS n_cand_p2 FROM cands GROUP BY qid),
nh1 AS (
  SELECT p.qid, count(*) AS n_overlap_p1
  FROM p1top p JOIN etop e ON p.qid = e.qid AND p.oid = e.oid GROUP BY p.qid
),
nh2 AS (
  SELECT p.qid, count(*) AS n_overlap_p2
  FROM p2top p JOIN etop e ON p.qid = e.qid AND p.oid = e.oid GROUP BY p.qid
)
SELECT qs.qid,
       CAST(coalesce(nc1.n_cand_p1, 0) AS BIGINT) AS n_cand_p1,
       CAST(coalesce(nh1.n_overlap_p1, 0) AS BIGINT) AS n_overlap_p1,
       CAST(coalesce(nc2.n_cand_p2, 0) AS BIGINT) AS n_cand_p2,
       CAST(coalesce(nh2.n_overlap_p2, 0) AS BIGINT) AS n_overlap_p2
FROM qs
LEFT JOIN nc1 USING (qid)
LEFT JOIN nh1 USING (qid)
LEFT JOIN nc2 USING (qid)
LEFT JOIN nh2 USING (qid)
ORDER BY qs.qid
"""


MRL_DIM = 16  # Matryoshka truncation width (prefix of the 64 dims)


def q_matryoshka_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka-truncation quality (Kusupati et al. 2022): rank
    neighbors by cosine over the FIRST MRL_DIM dimensions only (4×
    smaller vectors by dropping the embedding tail, the MRL deployment
    trade) and measure the top-QUANT_K overlap against the full-dimension
    ranking per evaluation query. Third point on the repo's
    memory-for-recall curve: int8 (4×, near-lossless), matryoshka
    prefix (4×, lossy-ordered), binary sign (32×, coarse).

    Same harness, tie-breaks, and rounding as the int8/binary
    variants, so the three curves are directly comparable and the
    DuckDB oracle reproduces overlaps exactly.

    Scale shape: identical to sim_int8_quant_recall — broadcast
    eval-query frame, one narrow scoring pass, qid-partitioned
    ranking windows."""
    e = table(spark, sf_dir, "embeddings").select(
        "vec_id",
        "embedding",
        F.slice("embedding", 1, MRL_DIM).alias("code"),
    )
    return _quant_recall(e, _cos_expr, desc=True)


_MATRYOSHKA_SQL = _quant_recall_sql(
    "SELECT vec_id, embedding, "
    f"list_slice(embedding, 1, {MRL_DIM}) AS code FROM embeddings",
    f"round({_sql_cos('code', 'qcode')}, 6)",
    desc=True,
)


SEMDEDUP_TAU = 0.4  # intra-cluster cosine above which one of a pair is pruned


def q_semdedup_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023):
    cluster embeddings with the same deterministic coarse centroids
    as the IVF index, then prune near-duplicate pairs WITHIN each
    cluster — pairwise cosine is only ever computed inside a cell,
    never across the corpus.

    Keep rule (deterministic stand-in for the paper's keep-low-
    centroid-similarity choice): a vector is pruned iff some
    same-cell vector within SEMDEDUP_TAU cosine has strictly lower
    centroid similarity (ties: lower vec_id). Emits every vector
    with its cell, centroid cosine, and kept flag.

    Scale shape: centroids broadcast (k rows); assignment is a
    narrow argmax over codegen'd dot products; the pairwise stage is
    a self-join keyed on the CELL — at 10^12 rows the cluster count
    grows with the corpus so cell population stays bounded and the
    join stays linear-ish, exactly the SemDeDup paper's trick. One
    exchange for assignment, one cell-keyed exchange for the join."""
    e = table(spark, sf_dir, "embeddings")
    assigned = e.join(
        _ivf_assign(e, _ivf_centroids(e)), "vec_id"
    ).select(
        "vec_id", "cell", "ccos", "embedding",
        l2norm(F.col("embedding")).alias("nrm"),
    )

    a = assigned.alias("a")
    b = assigned.alias("b")
    keeper_beats = (F.col("b.ccos") < F.col("a.ccos")) | (
        (F.col("b.ccos") == F.col("a.ccos"))
        & (F.col("b.vec_id") < F.col("a.vec_id"))
    )
    pruned = (
        a.join(b, (F.col("a.cell") == F.col("b.cell")) & keeper_beats)
        .where(
            F.round(
                hoisted_cosine(
                    F.col("a.embedding"), F.col("b.embedding"),
                    F.col("a.nrm"), F.col("b.nrm"),
                ),
                6,
            )
            >= SEMDEDUP_TAU
        )
        .select(F.col("a.vec_id").alias("vec_id"))
        .distinct()
        .withColumn("is_pruned", F.lit(True))
    )
    return (
        assigned.join(pruned, "vec_id", "left")
        .select(
            "vec_id",
            "cell",
            "ccos",
            F.coalesce(F.col("is_pruned"), F.lit(False)).alias("pruned"),
        )
        .orderBy("vec_id")
    )


_SEMDEDUP_SQL = f"""
WITH cents AS ({_cents_sql("embeddings")}),
best AS (
  SELECT s.*, e.embedding
  FROM ({_assign_sql("embeddings", "cents")}) s
  JOIN embeddings e ON e.vec_id = s.vec_id
)
SELECT a.vec_id, a.cell, a.ccos,
       EXISTS (
         SELECT 1 FROM best b
         WHERE b.cell = a.cell
           AND (b.ccos < a.ccos
                OR (b.ccos = a.ccos AND b.vec_id < a.vec_id))
           AND round({_sql_cos("a.embedding", "b.embedding")}, 6)
               >= {SEMDEDUP_TAU}
       ) AS pruned
FROM best a
ORDER BY a.vec_id
"""


def q_kmeans_refine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One Lloyd iteration of spherical k-means over the embedding
    corpus: start from the deterministic md5-sample centroids
    (_ivf_centroids — the same init the IVF index uses), update each
    cell's centroid to the component-wise mean of its members
    (rounded to 6, the engine-portability quantum), and re-assign.
    Emits (vec_id, cell0, cell1, moved) — the refinement step that
    turns the sampled IVF codebook into a trained one; L iterations
    are L repetitions of this round (with the connected-components
    module's checkpoint pattern for lineage truncation).

    Scale shape: assignment is the broadcast argmax (narrow); the
    centroid update is a posexplode + two-level hash aggregate whose
    output is k·dim rows (512 here) regardless of corpus size, then
    re-broadcast — the standard distributed k-means round (what
    MLlib's KMeans does per iteration). Nothing all-pairs, nothing
    driver-side except the tiny codebook."""
    e = table(spark, sf_dir, "embeddings")
    a0 = _ivf_assign(e, _ivf_centroids(e)).select(
        "vec_id", F.col("cell").alias("cell0")
    )
    upd = (
        e.join(a0, "vec_id")
        .select("cell0", F.posexplode("embedding").alias("pos", "v"))
        .groupBy("cell0", "pos")
        .agg(F.round(F.avg("v"), 6).alias("cv"))
        .groupBy("cell0")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "cv"))).alias("ps"))
        .select(
            F.col("cell0").alias("cid"),
            F.transform("ps", lambda s: s["cv"]).alias("cvec"),
        )
    )
    a1 = _ivf_assign(e, upd).select("vec_id", F.col("cell").alias("cell1"))
    return (
        a0.join(a1, "vec_id")
        .select(
            "vec_id",
            "cell0",
            "cell1",
            (F.col("cell0") != F.col("cell1")).alias("moved"),
        )
        .orderBy("vec_id")
    )


_KMEANS_SQL = f"""
WITH cents0 AS ({_cents_sql("embeddings")}),
a0 AS ({_assign_sql("embeddings", "cents0")}),
upd AS (
  SELECT cell AS cid, list(cv ORDER BY pos) AS cvec
  FROM (
    SELECT cell, pos, round(avg(CAST(v AS DOUBLE)), 6) AS cv
    FROM (
      SELECT a0.cell,
             unnest(range(len(e.embedding))) AS pos,
             unnest(e.embedding) AS v
      FROM embeddings e JOIN a0 USING (vec_id)
    )
    GROUP BY cell, pos
  )
  GROUP BY cell
),
a1 AS ({_assign_sql("embeddings", "upd")})
SELECT a0.vec_id, a0.cell AS cell0, a1.cell AS cell1, a0.cell != a1.cell AS moved
FROM a0 JOIN a1 USING (vec_id)
ORDER BY a0.vec_id
"""




# --- product quantization (PQ) ADC recall ------------------------------------

PQ_M = 16         # subspaces (EMBED_DIM / PQ_M dims each)
PQ_SUB = EMBED_DIM // PQ_M
PQ_K = 32         # codewords per subspace → 16×5 bits = 10 B/vector
PQ_QMOD = 25      # vec_id % PQ_QMOD == 0 → evaluation query vector
PQ_TOPK = 10


def _d2_micro(a: Column, b: Column) -> Column:
    """Squared L2 distance between two double arrays in integer
    MICRO-units (×1e6, rounded once): the repo's float-portability
    quantum — bit-identical fold order in both engines, then all
    downstream sums/comparisons are exact BIGINT."""
    return F.round(
        F.aggregate(
            F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        * 1e6
    ).cast("long")


def q_pq_adc_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization recall (Jégou et al. 2011, "Product
    Quantization for Nearest Neighbor Search"): embeddings split into
    PQ_M subspaces, each sub-vector snapped to the nearest of PQ_K
    codewords (deterministic md5-sample codebooks, the IVF-init
    pattern per subspace) — a 64-float vector becomes PQ_M single-byte
    codes. Queries rank candidates by ASYMMETRIC DISTANCE (ADC): the
    exact query-to-codeword distances are precomputed per subspace
    (tiny table) and a candidate's approximate distance is a pure
    TABLE-LOOKUP SUM over its codes. Output per query: top-PQ_TOPK
    overlap between ADC and exact-L2 rankings — the compression-for-
    recall trade measured, companion to sim_int8_quant_recall
    (4 bytes/vector here vs 64 there vs 256 raw).

    Scale shape: codebooks and the per-query lookup tables are tiny
    broadcasts; encoding is a narrow argmin over PQ_K broadcast rows
    per subspace; ADC scoring shuffles only (qid, vec_id, BIGINT)
    partial sums — map-side combined. All distances integer micro-
    units (see _d2_micro) so the DuckDB oracle is hash-exact. In
    production PQ composes with the IVF cells (q_ivf_topk) so ADC
    scans only probed cells, not the corpus, and codebooks are
    Lloyd-trained with the q_kmeans_refine loop (measured on this
    corpus: sampled 0.375 mean overlap@10 → one Lloyd round 0.46 —
    the ~26× compression is the dominant loss on these near-uniform
    synthetic embeddings, not the init)."""
    from pyspark.sql.window import Window

    e = table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    subs = e.select(
        "vec_id",
        F.posexplode(
            F.array(
                *[
                    F.transform(
                        F.slice("embedding", m * PQ_SUB + 1, PQ_SUB),
                        lambda v: v.cast("double"),
                    )
                    for m in range(PQ_M)
                ]
            )
        ).alias("m", "sv"),
    )
    mk = F.md5(
        F.concat(
            F.col("m").cast("string"), F.lit("|"), F.col("vec_id").cast("string")
        )
    )
    wn = Window.partitionBy("m").orderBy("mk")
    codebook = (
        subs.select("m", mk.alias("mk"), "sv")
        .withColumn("rn", F.row_number().over(wn))
        .where(F.col("rn") <= PQ_K)
        .select("m", (F.col("rn") - 1).alias("cid"), F.col("sv").alias("cvec"))
    )
    codes = (
        subs.join(F.broadcast(codebook), "m")
        .select(
            "vec_id", "m",
            F.struct(
                _d2_micro(F.col("sv"), F.col("cvec")).alias("d"), "cid"
            ).alias("dc"),
        )
        .groupBy("vec_id", "m")
        .agg(F.min("dc").alias("b"))
        .select("vec_id", "m", F.col("b.cid").alias("code"))
    )
    qsubs = subs.where(F.col("vec_id") % PQ_QMOD == 0).select(
        F.col("vec_id").alias("qid"), "m", F.col("sv").alias("qsv")
    )
    qlut = qsubs.join(F.broadcast(codebook), "m").select(
        "qid",
        F.col("m").alias("qm"),
        F.col("cid").alias("qcid"),
        _d2_micro(F.col("qsv"), F.col("cvec")).alias("d"),
    )
    adc = (
        codes.join(
            F.broadcast(qlut),
            (F.col("m") == F.col("qm")) & (F.col("code") == F.col("qcid")),
        )
        .where(F.col("vec_id") != F.col("qid"))
        .groupBy("qid", "vec_id")
        .agg(F.sum("d").alias("adist"))
    )
    dbl = F.transform("embedding", lambda v: v.cast("double"))
    full = e.select("vec_id", dbl.alias("fv"))
    qfull = full.where(F.col("vec_id") % PQ_QMOD == 0).select(
        F.col("vec_id").alias("qid"), F.col("fv").alias("qv")
    )
    exact = (
        full.join(F.broadcast(qfull), F.col("vec_id") != F.col("qid"))
        .select("qid", "vec_id", _d2_micro(F.col("fv"), F.col("qv")).alias("edist"))
    )
    wa = Window.partitionBy("qid").orderBy(F.asc("adist"), F.asc("vec_id"))
    we = Window.partitionBy("qid").orderBy(F.asc("edist"), F.asc("vec_id"))
    atop = (
        adc.withColumn("rk", F.row_number().over(wa))
        .where(F.col("rk") <= PQ_TOPK)
        .select("qid", "vec_id")
    )
    etop = (
        exact.withColumn("rk", F.row_number().over(we))
        .where(F.col("rk") <= PQ_TOPK)
        .select("qid", "vec_id")
    )
    hits = atop.join(etop, ["qid", "vec_id"]).groupBy("qid").agg(
        F.count("*").alias("n_overlap")
    )
    return (
        qfull.select("qid")
        .join(hits, "qid", "left")
        .select(
            "qid",
            F.coalesce("n_overlap", F.lit(0)).alias("n_overlap"),
            F.round(F.coalesce("n_overlap", F.lit(0)) / PQ_TOPK, 6).alias(
                "overlap"
            ),
        )
        .orderBy("qid")
    )


_PQ_D2 = (
    "CAST(round(list_sum(list_transform(list_zip({a}, {b}),"
    " p -> (p[1] - p[2]) * (p[1] - p[2]))) * 1000000) AS BIGINT)"
)

_PQ_RECALL_SQL = f"""
WITH e AS (
  SELECT vec_id,
         list_transform(embedding, v -> CAST(v AS DOUBLE)) AS fv
  FROM embeddings
),
subs AS (
  SELECT vec_id, ms.m,
         list_slice(fv, ms.m * {PQ_SUB} + 1, (ms.m + 1) * {PQ_SUB}) AS sv
  FROM e CROSS JOIN (SELECT unnest(range(0, {PQ_M})) AS m) ms
),
codebook AS (
  SELECT m, rn - 1 AS cid, sv AS cvec FROM (
    SELECT m, sv,
           row_number() OVER (
             PARTITION BY m
             ORDER BY md5(CAST(m AS VARCHAR) || '|' || CAST(vec_id AS VARCHAR))
           ) AS rn
    FROM subs
  ) WHERE rn <= {PQ_K}
),
codes AS (
  SELECT vec_id, m, cid AS code FROM (
    SELECT s.vec_id, s.m, c.cid,
           row_number() OVER (
             PARTITION BY s.vec_id, s.m
             ORDER BY {_PQ_D2.format(a='s.sv', b='c.cvec')}, c.cid
           ) AS rk
    FROM subs s JOIN codebook c USING (m)
  ) WHERE rk = 1
),
qlut AS (
  SELECT s.vec_id AS qid, s.m, c.cid,
         {_PQ_D2.format(a='s.sv', b='c.cvec')} AS d
  FROM subs s JOIN codebook c USING (m)
  WHERE s.vec_id % {PQ_QMOD} = 0
),
adc AS (
  SELECT q.qid, c.vec_id, sum(q.d) AS adist
  FROM codes c JOIN qlut q ON c.m = q.m AND c.code = q.cid
  WHERE c.vec_id != q.qid
  GROUP BY q.qid, c.vec_id
),
exact AS (
  SELECT q.vec_id AS qid, e.vec_id,
         {_PQ_D2.format(a='e.fv', b='q.fv')} AS edist
  FROM e CROSS JOIN e q
  WHERE q.vec_id % {PQ_QMOD} = 0 AND e.vec_id != q.vec_id
),
atop AS (
  SELECT qid, vec_id FROM (
    SELECT qid, vec_id,
           row_number() OVER (PARTITION BY qid ORDER BY adist, vec_id) AS rk
    FROM adc
  ) WHERE rk <= {PQ_TOPK}
),
etop AS (
  SELECT qid, vec_id FROM (
    SELECT qid, vec_id,
           row_number() OVER (PARTITION BY qid ORDER BY edist, vec_id) AS rk
    FROM exact
  ) WHERE rk <= {PQ_TOPK}
),
hits AS (
  SELECT qid, count(*) AS n_overlap
  FROM atop JOIN etop USING (qid, vec_id)
  GROUP BY qid
)
SELECT qid, CAST(coalesce(n_overlap, 0) AS BIGINT) AS n_overlap,
       round(coalesce(n_overlap, 0) / CAST({PQ_TOPK} AS DOUBLE), 6) AS overlap
FROM (SELECT DISTINCT vec_id AS qid FROM e WHERE vec_id % {PQ_QMOD} = 0)
LEFT JOIN hits USING (qid)
ORDER BY qid
"""




# --- contrastive training-pair mining ----------------------------------------

NEG_QMOD = 25   # vec_id % NEG_QMOD == 0 → anchor
NEG_K = 3       # hard negatives per anchor


def q_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive training-pair construction (the batch-mining shape
    behind SimCSE/DPR-style training): per anchor, the single nearest
    SAME-label vector becomes the positive and the NEG_K nearest
    DIFFERENT-label vectors the hard negatives — the highest-loss
    negatives an in-batch sampler would miss. Output one row per
    selected pair: (anchor, kind 'pos'|'neg', rk, other, cos).

    Scale shape: anchors are a small broadcast (per training batch);
    scoring is a narrow codegen'd projection over the corpus; the two
    window ranks share ONE exchange on anchor. At full-corpus anchor
    counts this becomes the blocked kNN (q_ivf_topk / neardup band
    shapes) with the same window tail — this query pins the exact
    semantics. Cosines rounded to 6 with id tie-breaks (the repo's
    float-portability discipline)."""
    from pyspark.sql.window import Window

    e = table(spark, sf_dir, "embeddings").select("vec_id", "embedding", "label")
    anchors = e.where(F.col("vec_id") % NEG_QMOD == 0).select(
        F.col("vec_id").alias("anchor"),
        F.col("embedding").alias("aemb"),
        F.col("label").alias("albl"),
    )
    scored = (
        e.join(F.broadcast(anchors), F.col("vec_id") != F.col("anchor"))
        .select(
            "anchor",
            F.col("vec_id").alias("other"),
            (F.col("label") == F.col("albl")).alias("same"),
            _cos_expr(F.col("embedding"), F.col("aemb")).alias("cos"),
        )
    )
    wp = Window.partitionBy("anchor", "same").orderBy(
        F.desc("cos"), F.asc("other")
    )
    ranked = scored.withColumn("rk", F.row_number().over(wp))
    pos = ranked.where(F.col("same") & (F.col("rk") == 1))
    neg = ranked.where(~F.col("same") & (F.col("rk") <= NEG_K))
    return (
        pos.unionAll(neg)
        .select(
            "anchor",
            F.when(F.col("same"), F.lit("pos")).otherwise(F.lit("neg")).alias(
                "kind"
            ),
            "rk",
            "other",
            "cos",
        )
        .orderBy("anchor", "kind", "rk")
    )


_HARD_NEG_SQL = f"""
WITH anchors AS (
  SELECT vec_id AS anchor, embedding AS aemb, label AS albl
  FROM embeddings WHERE vec_id % {NEG_QMOD} = 0
),
scored AS (
  SELECT a.anchor, e.vec_id AS other, e.label = a.albl AS same,
         round({_sql_cos("e.embedding", "a.aemb")}, 6) AS cos
  FROM embeddings e JOIN anchors a ON e.vec_id != a.anchor
),
ranked AS (
  SELECT anchor, other, same, cos,
         CAST(row_number() OVER (PARTITION BY anchor, same
                                 ORDER BY cos DESC, other ASC) AS INT) AS rk
  FROM scored
)
SELECT anchor, CASE WHEN same THEN 'pos' ELSE 'neg' END AS kind,
       rk, other, cos
FROM ranked
WHERE (same AND rk = 1) OR (NOT same AND rk <= {NEG_K})
ORDER BY anchor, kind, rk
"""


# --- MMR diverse selection ----------------------------------------------------

MMR_K = 5  # greedy rounds; score = 0.7·relevance − 0.3·max-sim-to-selected,
           # written with those literals in BOTH engines (no λ arithmetic
           # at query time — float-portability discipline)


def q_mmr_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal Marginal Relevance selection (Carbonell & Goldstein
    1998): greedily pick MMR_K embeddings maximizing
    0.7·cos(v, query) − 0.3·max_{s∈selected} cos(v, s) — the
    diversity-aware data-selection pass that plain top-k retrieval
    (q_cosine_topk) lacks: it refuses to spend the budget on K copies
    of the same near-duplicate neighborhood.

    Scale shape: each greedy round is ONE corpus scan scoring against
    the ≤K-row selected set (literal broadcast arrays — the selected
    vectors must ship to every executor under any design) followed by
    a TakeOrderedAndProject(1). The K per-round 1-row collects are the
    bounded driver-side scalars this repo already budgets for
    (connected-components convergence class); K is a constant, never
    corpus-sized. The relevance frame is cached across rounds (a
    checkpoint table at 100 TB). All cosines rounded to 1e-9 before
    the score arithmetic, scores to 1e-6 — both engines agree
    bit-exactly."""
    e = table(spark, sf_dir, "embeddings")
    q = (
        e.where(F.col("vec_id") == QUERY_VEC_ID)
        .select(F.col("embedding").alias("qvec"))
    )
    base = (
        e.where(F.col("vec_id") != QUERY_VEC_ID)
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id", "label", "embedding",
            F.round(cosine(F.col("embedding"), F.col("qvec")), 9).alias("rel"),
        )
        .cache()  # re-scored every round; checkpoint table at scale
    )
    selected: list = []
    out_rows: list = []
    for k in range(MMR_K):
        cand = base
        if selected:
            sims = [
                F.round(
                    cosine(
                        F.col("embedding"),
                        F.array(*[F.lit(float(v)) for v in row["embedding"]]),
                    ),
                    9,
                )
                for row in selected
            ]
            maxsim = sims[0] if len(sims) == 1 else F.greatest(*sims)
            cand = cand.where(
                ~F.col("vec_id").isin([row["vec_id"] for row in selected])
            )
            score = F.round(0.7 * F.col("rel") - 0.3 * maxsim, 6)
        else:
            score = F.round(0.7 * F.col("rel"), 6)
        picked = (
            cand.select("vec_id", "label", "embedding", score.alias("mmr"))
            .orderBy(F.desc("mmr"), F.asc("vec_id"))
            .limit(1)
            .collect()
        )
        if not picked:
            # fewer than MMR_K non-query vectors: return the shorter
            # selection rather than dying on an empty pick
            break
        pick = picked[0]
        selected.append(pick)
        out_rows.append((k + 1, pick["vec_id"], pick["label"], pick["mmr"]))
    return spark.createDataFrame(
        out_rows, "rank int, vec_id bigint, label int, mmr double"
    ).orderBy("rank")


def _mmr_sql() -> str:
    picks = []
    for k in range(1, MMR_K + 1):
        if k == 1:
            picks.append("""
p1 AS (SELECT vec_id, label, embedding, round(0.7 * rel, 6) AS mmr
       FROM scored ORDER BY mmr DESC, vec_id LIMIT 1)""")
            continue
        prev = [f"p{i}" for i in range(1, k)]
        sims = ", ".join(
            f"round({_sql_cos('s.embedding', f'{p}.embedding')}, 9)"
            for p in prev
        )
        maxsim = sims if k == 2 else f"greatest({sims})"
        excl = " UNION ALL ".join(f"SELECT vec_id FROM {p}" for p in prev)
        froms = ", ".join(prev)
        picks.append(f"""
p{k} AS (
  SELECT vec_id, label, embedding, mmr FROM (
    SELECT s.vec_id, s.label, s.embedding,
           round(0.7 * s.rel - 0.3 * {maxsim}, 6) AS mmr
    FROM scored s, {froms}
    WHERE s.vec_id NOT IN ({excl})
  ) ORDER BY mmr DESC, vec_id LIMIT 1
)""")
    union = "\nUNION ALL\n".join(
        f"SELECT {k} AS rank, vec_id, label, mmr FROM p{k}"
        for k in range(1, MMR_K + 1)
    )
    return f"""
WITH {_Q_SQL},
scored AS (
  SELECT vec_id, label, embedding,
         round({_sql_cos('embedding', 'qvec')}, 9) AS rel
  FROM embeddings, q WHERE vec_id != {QUERY_VEC_ID}
),{",".join(p[1:] for p in picks)}
SELECT rank, vec_id, label, mmr FROM ({union}) ORDER BY rank
"""


# --- embedding-outlier pruning -------------------------------------------------

OUTLIER_Z = 2.5  # |med − cos| > Z·MAD on the LOW side flags the vector


def q_embedding_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-outlier pruning (the CLIP/LAION-style curation pass
    next to SemDeDup): assign every vector to its IVF cell and flag
    vectors whose centroid cosine sits far BELOW the cell's robust
    baseline (median − cos > Z·MAD) — mis-embedded, off-distribution
    or garbage items that cluster nowhere. One-sided on purpose:
    unusually HIGH cohesion is a duplicate signal (SemDeDup's job),
    not an outlier.

    Scale shape: assignment is the shared _ivf_assign narrow argmax
    over broadcast centroids, CACHED because med/dev/mad all branch
    off it (without the cache Spark re-runs the argmax crossJoin per
    branch); both baselines are cells-sized broadcasts, medians exact
    per cell (cell population bounded by design — approx_percentile
    is the stated swap).

    Portability: centroid cosines are the engine-shared rounded
    _cos_expr; medians/MADs of rounded doubles and the Z·MAD compare
    are IEEE-identical; robust_z is rounded to 1e-6. MAD==0 (a
    perfectly tight cell) falls back to flagging any below-median
    vector."""
    e = table(spark, sf_dir, "embeddings")
    assigned = _ivf_assign(e, _ivf_centroids(e)).cache()
    med = assigned.groupBy("cell").agg(F.median("ccos").alias("med"))
    dev = assigned.join(F.broadcast(med), "cell").withColumn(
        "adev", F.abs(F.col("ccos") - F.col("med"))
    )
    mad = dev.groupBy("cell").agg(F.median("adev").alias("mad"))
    z = F.when(
        F.col("mad") > 0,
        F.round((F.col("med") - F.col("ccos")) / F.col("mad"), 6),
    )
    flag = F.when(
        F.col("mad") > 0,
        (F.col("med") - F.col("ccos")) > OUTLIER_Z * F.col("mad"),
    ).otherwise(F.col("ccos") < F.col("med"))
    return (
        dev.join(F.broadcast(mad), "cell")
        .select(
            "vec_id",
            "cell",
            F.col("ccos").alias("centroid_cos"),
            "med",
            "mad",
            z.alias("robust_z"),
            flag.alias("is_outlier"),
        )
        .orderBy("vec_id")
    )


_OUTLIER_SQL = f"""
WITH cents AS ({_cents_sql("embeddings")}),
best AS ({_assign_sql("embeddings", "cents")}),
med AS (SELECT cell, median(ccos) AS med FROM best GROUP BY cell),
dev AS (
  SELECT b.*, m.med, abs(b.ccos - m.med) AS adev
  FROM best b JOIN med m USING (cell)
),
mad AS (SELECT cell, median(adev) AS mad FROM dev GROUP BY cell)
SELECT d.vec_id, d.cell, d.ccos AS centroid_cos, d.med, a.mad,
       CASE WHEN a.mad > 0 THEN round((d.med - d.ccos) / a.mad, 6) END
         AS robust_z,
       CASE WHEN a.mad > 0 THEN (d.med - d.ccos) > {OUTLIER_Z} * a.mad
            ELSE d.ccos < d.med END AS is_outlier
FROM dev d JOIN mad a USING (cell)
ORDER BY d.vec_id
"""


# --- margin-based pair mining (Artetxe & Schwenk 2019) ----------------------

MARGIN_K = 4  # neighborhood size for the margin denominator
MARGIN_T_MICROS = 1_100_000  # keep pairs with ratio margin >= 1.10


def q_margin_pair_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Margin-based pair mining (Artetxe & Schwenk 2019, the LASER
    bitext-mining scorer): split the corpus into two sides (even /
    odd vec_id — standing in for two languages), score every cross
    pair by the RATIO margin — cosine divided by the average of the
    two vectors' k-NN cosine neighborhoods — and keep only pairs that
    are each other's best margin match (forward-backward "max"
    strategy) above a threshold. The margin normalization suppresses
    hub vectors that are near everything, which raw-cosine mining
    mistakes for matches.

    Cross-engine exactness: cosines quantize to integer micro-units
    (floor(cos·10⁶ + 0.5) — identical IEEE ops both engines) the
    moment they are born; neighborhood sums are BIGINT (order-free),
    and the margin itself is the pure integer division
    (c·(n_x+n_y)·10⁶) div (s_x+s_y) over POSITIVE operands (c > 0
    enforced), where Spark `div` and DuckDB `//` agree. No float ever
    crosses an aggregation.

    Scale path: the all-pairs head is the exact baseline (same stance
    as q_knn_join_topk); at 10^9 vectors candidates come from LSH
    bands / IVF cells (q_ann_lsh_buckets / q_ivf_topk shapes) and the
    margin tail — two bounded per-key window ranks + one integer
    division — is unchanged. The scored frame is persisted once and
    feeds its three consumers (two neighborhoods, the pair frame)."""
    from pyspark.sql.window import Window

    e = table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    xs = e.where(F.col("vec_id") % 2 == 0).select(
        F.col("vec_id").alias("a"),
        F.col("embedding").alias("va"),
        l2norm(F.col("embedding")).alias("nna"),
    )
    ys = e.where(F.col("vec_id") % 2 == 1).select(
        F.col("vec_id").alias("b"),
        F.col("embedding").alias("vb"),
        l2norm(F.col("embedding")).alias("nnb"),
    )
    c = F.floor(
        hoisted_cosine(F.col("va"), F.col("vb"), F.col("nna"), F.col("nnb"))
        * 1_000_000
        + F.lit(0.5)
    ).cast("long")
    pos = (
        xs.crossJoin(F.broadcast(ys))
        .select("a", "b", c.alias("c"))
        .where(F.col("c") > 0)
        .cache()  # three consumers; checkpoint table at scale
    )
    wx = Window.partitionBy("a").orderBy(F.desc("c"), F.asc("b"))
    wy = Window.partitionBy("b").orderBy(F.desc("c"), F.asc("a"))
    sx = (
        pos.withColumn("rk", F.row_number().over(wx))
        .where(F.col("rk") <= MARGIN_K)
        .groupBy("a")
        .agg(F.sum("c").alias("s_x"), F.count(F.lit(1)).alias("n_x"))
    )
    sy = (
        pos.withColumn("rk", F.row_number().over(wy))
        .where(F.col("rk") <= MARGIN_K)
        .groupBy("b")
        .agg(F.sum("c").alias("s_y"), F.count(F.lit(1)).alias("n_y"))
    )
    m = (
        pos.join(sx, "a")
        .join(sy, "b")
        .withColumn(
            "mm",
            F.expr("(c * (n_x + n_y) * 1000000L) div (s_x + s_y)"),
        )
        .select("a", "b", "mm")
    )
    wbf = Window.partitionBy("a").orderBy(F.desc("mm"), F.asc("b"))
    wbb = Window.partitionBy("b").orderBy(F.desc("mm"), F.asc("a"))
    best_fwd = (
        m.withColumn("rk", F.row_number().over(wbf))
        .where(F.col("rk") == 1)
        .select("a", "b", "mm")
    )
    best_bwd = (
        m.withColumn("rk", F.row_number().over(wbb))
        .where(F.col("rk") == 1)
        .select("a", "b")
    )
    return (
        best_fwd.join(best_bwd, ["a", "b"])
        .where(F.col("mm") >= MARGIN_T_MICROS)
        .select(
            F.col("a").alias("x"),
            F.col("b").alias("y"),
            F.col("mm").alias("margin_micros"),
        )
        .orderBy("x")
    )


_MARGIN_SQL = f"""
WITH scored AS (
  SELECT x.vec_id AS a, y.vec_id AS b,
         CAST(floor({_sql_cos("x.embedding", "y.embedding")} * 1000000 + 0.5)
              AS BIGINT) AS c
  FROM embeddings x JOIN embeddings y
    ON x.vec_id % 2 = 0 AND y.vec_id % 2 = 1
),
pos AS (SELECT * FROM scored WHERE c > 0),
sx AS (
  SELECT a, CAST(sum(c) AS BIGINT) AS s_x, count(*) AS n_x
  FROM (SELECT a, c, row_number() OVER (PARTITION BY a ORDER BY c DESC, b) AS rk
        FROM pos)
  WHERE rk <= {MARGIN_K} GROUP BY a
),
sy AS (
  SELECT b, CAST(sum(c) AS BIGINT) AS s_y, count(*) AS n_y
  FROM (SELECT b, c, row_number() OVER (PARTITION BY b ORDER BY c DESC, a) AS rk
        FROM pos)
  WHERE rk <= {MARGIN_K} GROUP BY b
),
m AS (
  SELECT p.a, p.b, (p.c * (n_x + n_y) * 1000000) // (s_x + s_y) AS mm
  FROM pos p JOIN sx USING (a) JOIN sy USING (b)
),
bf AS (SELECT a, b, mm FROM
        (SELECT *, row_number() OVER (PARTITION BY a ORDER BY mm DESC, b) AS rk FROM m)
       WHERE rk = 1),
bb AS (SELECT a, b FROM
        (SELECT *, row_number() OVER (PARTITION BY b ORDER BY mm DESC, a) AS rk FROM m)
       WHERE rk = 1)
SELECT bf.a AS x, bf.b AS y, bf.mm AS margin_micros
FROM bf JOIN bb ON bf.a = bb.a AND bf.b = bb.b
WHERE bf.mm >= {MARGIN_T_MICROS}
ORDER BY x
"""


# --- incremental IVF index maintenance (delta assignment) ----------------

DELTA_MOD = 10  # vec_id % DELTA_MOD == 0 → "newly arrived" vector


def q_ivf_delta_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental ANN-index maintenance: the corpus is split into an
    already-indexed BASE (vec_id % DELTA_MOD != 0) and a newly-arrived
    DELTA batch; centroids are derived from the base ONLY and stay
    FROZEN (the production invariant — an index update must not move
    existing vectors between cells), the delta batch is assigned to
    the frozen centroids, and the query reports per-cell growth:
    base population, delta arrivals, growth in ppm (pure integer
    arithmetic), and the best-fitting delta vector per cell (highest
    centroid cosine, ties to the lower vec_id).

    Scale shape: this is the nightly vector-store compaction audit —
    only the delta batch (a day's arrivals) does any work: centroid
    derivation and base counts come from the existing index's
    metadata at real scale, and the delta assignment is the same
    broadcast-centroid narrow argmax as the full build
    (`_ivf_assign`), so cost is O(|delta| · cells) with zero shuffles
    beyond one tiny per-cell aggregate. Cells with no arrivals stay
    in the report with NULL best-vector (left join) — the signal a
    rebalance monitor watches. Shares `_ivf_centroids`/`_ivf_assign`
    with the IVF ANN query so index build and index maintenance can
    never drift on tie-breaks."""
    e = table(spark, sf_dir, "embeddings")
    base = e.where(F.col("vec_id") % DELTA_MOD != 0)
    delta = e.where(F.col("vec_id") % DELTA_MOD == 0)
    cents = _ivf_centroids(base)
    b = (
        _ivf_assign(base, cents)
        .groupBy("cell")
        .agg(F.count("*").alias("n_base"))
    )
    d = (
        _ivf_assign(delta, cents)
        .groupBy("cell")
        .agg(
            F.count("*").alias("n_delta"),
            F.max(
                F.struct(F.col("ccos"), (-F.col("vec_id")).alias("nv"))
            ).alias("top"),
        )
    )
    return (
        b.join(F.broadcast(d), "cell", "left")
        .select(
            "cell",
            "n_base",
            F.coalesce("n_delta", F.lit(0)).alias("n_delta"),
            F.expr(
                "CAST(coalesce(n_delta, 0) * 1000000 DIV n_base AS BIGINT)"
            ).alias("growth_ppm"),
            (-F.col("top.nv")).alias("top_delta_vec"),
            F.col("top.ccos").alias("top_delta_ccos"),
        )
        .orderBy("cell")
    )


_IVF_DELTA_SQL = f"""
WITH base AS (
  SELECT * FROM embeddings WHERE vec_id % {DELTA_MOD} != 0
),
delta AS (
  SELECT * FROM embeddings WHERE vec_id % {DELTA_MOD} = 0
),
cents AS ({_cents_sql("base")}),
bbest AS ({_assign_sql("base", "cents")}),
dbest AS ({_assign_sql("delta", "cents")}),
b AS (SELECT cell, count(*) AS n_base FROM bbest GROUP BY cell),
d AS (
  SELECT cell, count(*) AS n_delta,
         first(vec_id ORDER BY ccos DESC, vec_id ASC) AS top_delta_vec,
         max(ccos) AS top_delta_ccos
  FROM dbest
  GROUP BY cell
)
SELECT b.cell, b.n_base,
       coalesce(d.n_delta, 0) AS n_delta,
       CAST(coalesce(d.n_delta, 0) * 1000000 // b.n_base AS BIGINT)
         AS growth_ppm,
       d.top_delta_vec, d.top_delta_ccos
FROM b LEFT JOIN d ON b.cell = d.cell
ORDER BY b.cell
"""


LP_TOPK = 50  # link-prediction candidates reported


def q_graph_link_predict(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Common-neighbor link prediction over the kNN similarity graph
    (shared edge definition with q_knn_join_topk / the BFS — one kNN,
    three queries): candidate pairs are non-adjacent vertices sharing
    ≥1 neighbor in the SYMMETRIZED graph, scored by common-neighbor
    count with total-degree and id tie-breaks — all integers, so the
    ranking is engine-portable without Adamic-Adar's logarithm.

    Scale shape: the candidate generation is the TWO-HOP join
    (edges ⋈ edges on the middle vertex, a < c) — fan-out bounded by
    degree² per middle vertex (kNN degree is K + in-degree, bounded
    in practice by the same DF cut the n-gram index uses for hub
    vertices); existing edges leave via one anti-join; the degree
    join-backs are tiny frames. Never an all-pairs product over
    vertices."""
    # persist the kNN edges BEFORE the union: both union branches
    # consume them, and the pairwise scoring is the expensive stage
    edges = q_knn_join_topk(spark, sf_dir).select("a", "b").persist()
    sym = (
        edges.unionByName(
            edges.select(F.col("b").alias("a"), F.col("a").alias("b"))
        )
        .distinct()
        .persist()
    )
    e1 = sym.alias("e1")
    e2 = sym.alias("e2")
    two_hop = (
        e1.join(
            e2,
            (F.col("e1.b") == F.col("e2.a"))
            & (F.col("e1.a") < F.col("e2.b")),
        )
        .groupBy(F.col("e1.a").alias("u"), F.col("e2.b").alias("v"))
        .agg(F.count(F.lit(1)).alias("cn"))
    )
    cand = two_hop.join(
        sym.select(F.col("a").alias("u"), F.col("b").alias("v")),
        ["u", "v"],
        "left_anti",
    )
    deg = sym.groupBy(F.col("a").alias("n")).agg(
        F.count(F.lit(1)).alias("deg")
    )
    return (
        cand.join(deg.select(F.col("n").alias("u"), F.col("deg").alias("du")), "u")
        .join(deg.select(F.col("n").alias("v"), F.col("deg").alias("dv")), "v")
        .select("u", "v", "cn", (F.col("du") + F.col("dv")).alias("deg_sum"))
        .orderBy(F.desc("cn"), F.asc("deg_sum"), "u", "v")
        .limit(LP_TOPK)
    )


_LINK_PREDICT_SQL = f"""
WITH {_KNN_CTE},
{_KNN_EDGES_SQL},
sym AS (
  SELECT DISTINCT a, b FROM (
    SELECT a, b FROM edges UNION ALL SELECT b AS a, a AS b FROM edges
  )
),
two_hop AS (
  SELECT e1.a AS u, e2.b AS v, count(*) AS cn
  FROM sym e1 JOIN sym e2 ON e1.b = e2.a AND e1.a < e2.b
  GROUP BY e1.a, e2.b
),
cand AS (
  SELECT t.* FROM two_hop t
  WHERE NOT EXISTS (
    SELECT 1 FROM sym s WHERE s.a = t.u AND s.b = t.v
  )
),
deg AS (SELECT a AS n, count(*) AS deg FROM sym GROUP BY a)
SELECT c.u, c.v, c.cn, d1.deg + d2.deg AS deg_sum
FROM cand c JOIN deg d1 ON d1.n = c.u JOIN deg d2 ON d2.n = c.v
ORDER BY c.cn DESC, deg_sum ASC, c.u, c.v
LIMIT {LP_TOPK}
"""


TOPTERMS_K = 3  # distinctive terms per cluster


def q_cluster_topterms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster LABELING: after k-means/IVF assignment, name each cell
    by its TOPTERMS_K most DISTINCTIVE tokens — the human-readable
    step of every embedding-clustering pipeline (what you print next
    to a SemDeDup or curriculum cluster). Distinctiveness is the
    integer keyness ``tf_cell·total_tokens − tf_total·cell_tokens``
    (sign of the PMI numerator minus expectation, cross-multiplied so
    NO division or log crosses an aggregation — the margin-mining
    arithmetic discipline), ties broken lexicographically.

    Shares _ivf_centroids/_ivf_assign with the IVF index and SemDeDup
    so the assignment can never drift from the other queries' cells.

    Scale shape: ONE corpus scan — the (cell, tok) counts are the
    only token-grain aggregate, CACHED, and every other statistic
    (per-token totals, per-cell totals, the corpus total) derives
    from that collapsed vocab×cells frame, never from a re-scan; the
    corpus total is a 1-row broadcast; the final window ranks each
    cell's vocab — partitioned by cell, and at 10^12 docs a per-cell
    vocab cut (HAVING tf_cell ≥ m) bounds the frame before
    ranking."""
    from pyspark.sql.window import Window

    e = table(spark, sf_dir, "embeddings")
    assigned = _ivf_assign(e, _ivf_centroids(e)).select("vec_id", "cell")
    toks = (
        table(spark, sf_dir, "documents")
        .select(
            "doc_id",
            F.explode(words(F.lower(F.col("text")))).alias("tok"),
        )
        .join(assigned, F.col("doc_id") == F.col("vec_id"))
        .select("cell", "tok")
    )
    tfc = (
        toks.groupBy("cell", "tok")
        .agg(F.count(F.lit(1)).alias("tf_cell"))
        .persist()
    )
    tft = tfc.groupBy("tok").agg(F.sum("tf_cell").alias("tf_tot"))
    celltot = tfc.groupBy("cell").agg(F.sum("tf_cell").alias("cell_tokens"))
    total = celltot.agg(F.sum("cell_tokens").alias("total_tokens"))
    score = (
        F.col("tf_cell") * F.col("total_tokens")
        - F.col("tf_tot") * F.col("cell_tokens")
    ).alias("score")
    scored = (
        tfc.join(tft, "tok")
        .join(F.broadcast(celltot), "cell")
        .crossJoin(F.broadcast(total))
        .select("cell", "tok", score)
    )
    w = Window.partitionBy("cell").orderBy(F.desc("score"), F.asc("tok"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= TOPTERMS_K)
        .select("cell", F.col("rk").cast("int").alias("rk"), "tok", "score")
        .orderBy("cell", "rk")
    )


_TOPTERMS_SQL = f"""
WITH cents AS ({_cents_sql("embeddings")}),
best AS ({_assign_sql("embeddings", "cents")}),
raw AS (
  SELECT doc_id,
         unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS tok
  FROM documents
),
toks AS (
  SELECT b.cell, r.tok FROM raw r JOIN best b ON b.vec_id = r.doc_id
),
tfc AS (SELECT cell, tok, count(*) AS tf_cell FROM toks GROUP BY cell, tok),
tft AS (SELECT tok, count(*) AS tf_tot FROM toks GROUP BY tok),
celltot AS (SELECT cell, count(*) AS cell_tokens FROM toks GROUP BY cell),
tot AS (SELECT count(*) AS total_tokens FROM toks)
SELECT CAST(cell AS INT) AS cell, CAST(rk AS INT) AS rk, tok, score
FROM (
  SELECT c.cell, c.tok,
         c.tf_cell * t.total_tokens - f.tf_tot * ct.cell_tokens AS score,
         row_number() OVER (
           PARTITION BY c.cell
           ORDER BY c.tf_cell * t.total_tokens - f.tf_tot * ct.cell_tokens DESC,
                    c.tok ASC
         ) AS rk
  FROM tfc c JOIN tft f USING (tok) JOIN celltot ct USING (cell)
  CROSS JOIN tot t
)
WHERE rk <= {TOPTERMS_K}
ORDER BY cell, rk
"""


# --- grid-bucketed spatial neighbor join -----------------------------------

GEO_SPAN = 10_000  # coordinate domain per axis
GEO_R = 1_000      # neighbor radius = grid cell size
GEO_K = 500        # reported nearest pairs


def _geo_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(a, b, d2): every ORDERED pair of distinct documents within
    euclidean radius GEO_R, d2 the exact integer squared distance.
    Points are synthesized deterministically from doc_id md5 (the
    corpus has no geo columns; the operator is the shape, the
    coordinates are fixtures — same policy as the manifest queries).

    Grid bucketing: every point hashes to a GEO_R×GEO_R cell, the
    probe side explodes ×9 onto its 3×3 neighborhood, and the two
    sides equi-join on the cell key with d2 as a residual filter. A
    pair can match through only ONE (dx, dy) probe (the one equal to
    b's cell), so the join needs no dedup; cell size ≥ GEO_R makes
    the cover complete."""
    doc = table(spark, sf_dir, "documents").select("doc_id")

    def coord(axis: str) -> Column:
        return (
            F.conv(
                F.substring(
                    F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(axis))),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("long")
            % GEO_SPAN
        )

    pts = doc.select(
        "doc_id", coord("x").alias("x"), coord("y").alias("y")
    ).select(
        "doc_id",
        "x",
        "y",
        F.expr(f"x DIV {GEO_R}").alias("cx"),
        F.expr(f"y DIV {GEO_R}").alias("cy"),
    )
    probe = (
        pts.select(
            F.col("doc_id").alias("a"),
            F.col("x").alias("ax"),
            F.col("y").alias("ay"),
            "cx",
            "cy",
            F.explode(F.array(F.lit(-1), F.lit(0), F.lit(1))).alias("dx"),
        )
        .select(
            "a",
            "ax",
            "ay",
            (F.col("cx") + F.col("dx")).alias("jx"),
            "cy",
            F.explode(F.array(F.lit(-1), F.lit(0), F.lit(1))).alias("dy"),
        )
        .select("a", "ax", "ay", "jx", (F.col("cy") + F.col("dy")).alias("jy"))
    )
    d2 = (F.col("ax") - F.col("bx")) * (F.col("ax") - F.col("bx")) + (
        F.col("ay") - F.col("by")
    ) * (F.col("ay") - F.col("by"))
    return (
        probe.join(
            pts.select(
                F.col("doc_id").alias("b"),
                F.col("x").alias("bx"),
                F.col("y").alias("by"),
                F.col("cx").alias("jx"),
                F.col("cy").alias("jy"),
            ),
            ["jx", "jy"],
        )
        .where(F.col("a") != F.col("b"))
        .select("a", "b", d2.alias("d2"))
        .where(F.col("d2") <= GEO_R * GEO_R)
    )


def q_geo_grid_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spatial neighbor join (all point pairs within euclidean
    radius R, top-K nearest reported) via GRID BUCKETING — the
    standard distributed spatial-join strategy: hash every point to
    an R×R cell, probe the 3×3 neighborhood with a constant ×9
    explode, and equi-join on the cell key, with the exact distance
    as a residual filter. The oracle is the ground-truth ALL-PAIRS
    distance join, so the driver hash certifies the grid cover
    (every qualifying pair shares a probed cell — the cover
    guarantee that makes cell size ≥ R mandatory).

    Points and the grid cover come from _geo_pairs; distances are
    exact integer d² — no sqrt crosses the hash.

    Scale shape: equi-join on (cell_x, cell_y) — shuffle keyed by
    cell, occupancy bounded by density×R², ×9 constant expansion on
    the probe side only; top-K is TakeOrderedAndProject. The oracle's
    quadratic blowup is confined to the sf≤0.1 corpus."""
    return (
        _geo_pairs(spark, sf_dir)
        .where(F.col("a") < F.col("b"))
        .orderBy("d2", "a", "b")
        .limit(GEO_K)
    )


_GEO_COORD = (
    "CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '{ax}'), 1, 8)) "
    f"AS BIGINT) % {GEO_SPAN}"
)

_GEO_GRID_SQL = f"""
WITH pts AS (
  SELECT doc_id,
         {_GEO_COORD.format(ax="x")} AS x,
         {_GEO_COORD.format(ax="y")} AS y
  FROM documents
)
SELECT a.doc_id AS a, b.doc_id AS b,
       (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y) AS d2
FROM pts a JOIN pts b ON a.doc_id < b.doc_id
WHERE (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y)
      <= {GEO_R * GEO_R}
ORDER BY d2, a, b
LIMIT {GEO_K}
"""


# --- per-vertex local clustering coefficient --------------------------------


def q_graph_local_clustering(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vertex LOCAL clustering coefficient over the spatial
    neighbor graph — the vertex-grain companion to the global
    triangle census: c_v = 2·T_v / (deg_v·(deg_v−1)) in floor ppm,
    where T_v counts closed wedges at v. High-c vertices sit inside
    tight dup-cliques; low-c high-degree vertices are hubs — the
    per-node signal cluster-cleanup pipelines rank by.

    Scale shape: the standard distributed triangle count — directed
    adjacency persisted once; wedges from the (v)-keyed self-join
    (fan-out deg², bounded by grid-cell occupancy); closure via ONE
    equi-join against the canonical a<b edge list; then a per-vertex
    aggregate. Never an all-pairs pass; the oracle recomputes from
    the all-pairs edge set.

    Vertices need deg ≥ 2 (the coefficient is undefined below)."""
    directed = (
        _geo_pairs(spark, sf_dir)
        .select(F.col("a").alias("v"), F.col("b").alias("u"))
        .persist()
    )
    deg = directed.groupBy("v").agg(F.count(F.lit(1)).alias("deg"))
    canon = directed.where(F.col("v") < F.col("u")).select(
        F.col("v").alias("e1"), F.col("u").alias("e2")
    )
    wedges = (
        directed.alias("l")
        .join(
            directed.alias("r"),
            (F.col("l.v") == F.col("r.v")) & (F.col("l.u") < F.col("r.u")),
        )
        .select(
            F.col("l.v").alias("v"),
            F.col("l.u").alias("e1"),
            F.col("r.u").alias("e2"),
        )
    )
    tri = wedges.join(canon, ["e1", "e2"]).groupBy("v").agg(
        F.count(F.lit(1)).alias("t")
    )
    return (
        deg.where(F.col("deg") >= 2)
        .join(tri, "v", "left")
        .select(
            F.col("v").alias("doc_id"),
            "deg",
            F.coalesce(F.col("t"), F.lit(0)).alias("triangles"),
            F.expr(
                "CAST(2 * coalesce(t, 0) * 1000000 "
                "DIV (deg * (deg - 1)) AS BIGINT)"
            ).alias("clustering_ppm"),
        )
        .orderBy("doc_id")
    )


def _local_clustering_sql() -> str:
    return f"""
WITH pts AS (
  SELECT doc_id,
         {_GEO_COORD.format(ax="x")} AS x,
         {_GEO_COORD.format(ax="y")} AS y
  FROM documents
),
directed AS (
  SELECT a.doc_id AS v, b.doc_id AS u
  FROM pts a JOIN pts b ON a.doc_id != b.doc_id
  WHERE (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y)
        <= {GEO_R * GEO_R}
),
deg AS (SELECT v, count(*) AS deg FROM directed GROUP BY v),
canon AS (SELECT v AS e1, u AS e2 FROM directed WHERE v < u),
wedges AS (
  SELECT l.v, l.u AS e1, r.u AS e2
  FROM directed l JOIN directed r ON r.v = l.v AND l.u < r.u
),
tri AS (
  SELECT w.v, count(*) AS t
  FROM wedges w JOIN canon c ON c.e1 = w.e1 AND c.e2 = w.e2
  GROUP BY w.v
)
SELECT d.v AS doc_id, CAST(d.deg AS BIGINT) AS deg,
       CAST(COALESCE(t.t, 0) AS BIGINT) AS triangles,
       CAST(2 * COALESCE(t.t, 0) * 1000000 // (d.deg * (d.deg - 1))
            AS BIGINT) AS clustering_ppm
FROM deg d LEFT JOIN tri t ON t.v = d.v
WHERE d.deg >= 2
ORDER BY doc_id
"""


# --- embedding centroid drift monitoring ------------------------------------

DRIFT_Q = 1_000_000  # per-element quantization (micro-units)


def q_centroid_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding centroid drift between two corpus halves
    (vec_id parity) — the embedding-space monitoring readout that
    catches encoder regressions and distribution shift ("did class
    k's centroid move between snapshots?"). Exactness discipline:
    every embedding element is QUANTIZED to integer micro-units
    BEFORE any aggregation (floor(x·10⁶) — identical IEEE
    float→double→floor in both engines), so the per-half element
    sums are exact integers and the squared centroid displacement
    Σ_d (n_b·s_a,d − n_a·s_b,d)² / (n_a·n_b)² is a pure rational:
    the numerator rides decimal(38)/HUGEINT into a digit string and
    the scaled mean-squared displacement divides exactly (floor,
    non-negative). Float summation ORDER never matters because no
    float is ever summed.

    Scale shape: one explode to (label, half, dim) element rows →
    ONE map-side-combinable sum aggregate (labels × halves × dims
    cells — domain-bounded); the drift algebra runs on the ≤(labels
    × dims) cell frame. At 10^12 vectors this is a scan + one keyed
    aggregate."""
    emb = table(spark, sf_dir, "embeddings").select(
        "label",
        (F.col("vec_id") % 2).alias("half"),
        F.posexplode("embedding").alias("d", "x"),
    )
    cells = emb.groupBy("label", "half", "d").agg(
        F.sum(
            F.floor(F.col("x").cast("double") * DRIFT_Q).cast("long")
        ).alias("s"),
        F.count(F.lit(1)).alias("n"),
    )
    halves = (
        cells.groupBy("label", "d")
        .agg(
            F.sum(F.when(F.col("half") == 0, F.col("s"))).alias("sa"),
            F.sum(F.when(F.col("half") == 1, F.col("s"))).alias("sb"),
            F.max(F.when(F.col("half") == 0, F.col("n"))).alias("na"),
            F.max(F.when(F.col("half") == 1, F.col("n"))).alias("nb"),
        )
        .where(F.col("na").isNotNull() & F.col("nb").isNotNull())
    )
    per_label = halves.groupBy("label").agg(
        F.max("na").alias("n_a"),
        F.max("nb").alias("n_b"),
        F.count(F.lit(1)).alias("n_dims"),
        F.sum(
            F.expr(
                "(CAST(nb AS DECIMAL(38,0)) * sa "
                "- CAST(na AS DECIMAL(38,0)) * sb) "
                "* (CAST(nb AS DECIMAL(38,0)) * sa "
                "- CAST(na AS DECIMAL(38,0)) * sb)"
            )
        ).alias("num"),
    )
    return per_label.select(
        F.col("label").cast("int").alias("label"),
        "n_a",
        "n_b",
        "n_dims",
        F.col("num").cast("string").alias("drift_num_str"),
        F.expr(
            "CAST(num DIV (CAST(n_a AS DECIMAL(38,0)) * n_a * n_b * n_b) "
            "AS BIGINT)"
        ).alias("msd_scaled"),
    ).orderBy("label")


_CENTROID_DRIFT_SQL = f"""
WITH el AS (
  SELECT label, vec_id % 2 AS half, u.d AS d,
         CAST(floor(CAST(embedding[u.d + 1] AS DOUBLE) * {DRIFT_Q})
              AS BIGINT) AS q
  FROM embeddings, LATERAL (SELECT unnest(range(len(embedding))) AS d) u
),
cells AS (
  SELECT label, half, d, sum(q) AS s, count(*) AS n
  FROM el GROUP BY label, half, d
),
halves AS (
  SELECT label, d,
         sum(CASE WHEN half = 0 THEN s END) AS sa,
         sum(CASE WHEN half = 1 THEN s END) AS sb,
         max(CASE WHEN half = 0 THEN n END) AS na,
         max(CASE WHEN half = 1 THEN n END) AS nb
  FROM cells GROUP BY label, d
),
ok AS (SELECT * FROM halves WHERE na IS NOT NULL AND nb IS NOT NULL),
per_label AS (
  SELECT label, max(na) AS n_a, max(nb) AS n_b, count(*) AS n_dims,
         sum((CAST(nb AS HUGEINT) * sa - CAST(na AS HUGEINT) * sb)
             * (CAST(nb AS HUGEINT) * sa - CAST(na AS HUGEINT) * sb))
           AS num
  FROM ok GROUP BY label
)
SELECT CAST(label AS INT) AS label,
       CAST(n_a AS BIGINT) AS n_a,
       CAST(n_b AS BIGINT) AS n_b,
       CAST(n_dims AS BIGINT) AS n_dims,
       CAST(num AS VARCHAR) AS drift_num_str,
       CAST(num // (CAST(n_a AS HUGEINT) * n_a * n_b * n_b)
            AS BIGINT) AS msd_scaled
FROM per_label
ORDER BY label
"""


# --- deterministic random walks (DeepWalk-style corpus sampling) -----------

WALK_LEN = 4


def q_graph_random_walks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DeepWalk/node2vec-style random-walk corpus sampling over the
    spatial neighbor graph, made fully DETERMINISTIC: the step-t
    choice from node v on walk w is neighbor index
    md5(w:t:v) mod deg(v) over the (d², id)-ranked adjacency — the
    standard trick for reproducible walk corpora (hash-seeded
    pseudo-randomness, no RNG state to synchronize across
    executors). Walks of length 4 start at EVERY node; a walk that
    reaches an isolated node simply ends (inner join against the
    degree frame), exactly like real walk samplers at graph
    boundaries.

    Scale shape: the adjacency (grid-bucketed neighbor join, the
    geo-grid shape) is built once and PERSISTED — it feeds the
    degree frame and all 4 step joins; each step is one equi-join
    on (node, picked-rank), i.e. L shuffles for L steps, the
    documented cost of distributed walk sampling (at 10^12 edges
    you batch many walks per join, same shape). The oracle unrolls
    the identical walk recurrence with a recursive CTE over the
    all-pairs adjacency, so the hash certifies every step choice."""
    from pyspark.sql.window import Window

    edges = _geo_pairs(spark, sf_dir).select(
        F.col("a").alias("src"), F.col("b").alias("dst"), "d2"
    )
    adj = edges.withColumn(
        "r0",
        F.row_number().over(
            Window.partitionBy("src").orderBy("d2", "dst")
        )
        - 1,
    ).select("src", "dst", "r0").persist()
    deg = adj.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    walks = table(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("start"),
        F.lit(0).cast("int").alias("step"),
        F.col("doc_id").alias("node"),
    )
    out = walks
    cur = walks
    for s in range(1, WALK_LEN + 1):
        pick = (
            F.conv(
                F.substring(
                    F.md5(
                        F.concat(
                            F.col("start").cast("string"),
                            F.lit(":"),
                            F.lit(s).cast("string"),
                            F.lit(":"),
                            F.col("node").cast("string"),
                        )
                    ),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("long")
            % F.col("deg")
        )
        cur = (
            cur.join(deg, cur.node == deg.src)
            .withColumn("pick", pick)
            .drop("src")
            .join(
                adj,
                (adj.src == F.col("node")) & (adj.r0 == F.col("pick")),
            )
            .select(
                "start",
                F.lit(s).cast("int").alias("step"),
                F.col("dst").alias("node"),
            )
        )
        out = out.unionAll(cur)
    return out.orderBy("start", "step")


def _random_walks_sql() -> str:
    return f"""
WITH RECURSIVE pts AS (
  SELECT doc_id,
         {_GEO_COORD.format(ax="x")} AS x,
         {_GEO_COORD.format(ax="y")} AS y
  FROM documents
),
edges AS (
  SELECT a.doc_id AS src, b.doc_id AS dst,
         (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y) AS d2
  FROM pts a JOIN pts b ON a.doc_id != b.doc_id
  WHERE (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y)
        <= {GEO_R * GEO_R}
),
adj AS (
  SELECT src, dst,
         row_number() OVER (PARTITION BY src ORDER BY d2, dst) - 1 AS r0
  FROM edges
),
deg AS (SELECT src, count(*) AS deg FROM adj GROUP BY src),
walk AS (
  SELECT doc_id AS start, 0 AS step, doc_id AS node FROM pts
  UNION ALL
  SELECT w.start, w.step + 1, a.dst
  FROM walk w
  JOIN deg d ON d.src = w.node
  JOIN adj a ON a.src = w.node
   AND a.r0 = CAST(('0x' || substr(md5(
         CAST(w.start AS VARCHAR) || ':' ||
         CAST(w.step + 1 AS VARCHAR) || ':' ||
         CAST(w.node AS VARCHAR)), 1, 8)) AS BIGINT) % d.deg
  WHERE w.step < {WALK_LEN}
)
SELECT start, CAST(step AS INT) AS step, node
FROM walk ORDER BY start, step
"""


QUERIES = {
    "graph_random_walks": (q_graph_random_walks, _random_walks_sql()),
    "sim_centroid_drift": (q_centroid_drift, _CENTROID_DRIFT_SQL),
    "graph_local_clustering": (
        q_graph_local_clustering,
        _local_clustering_sql(),
    ),
    "sim_cosine_topk": (q_cosine_topk, _COSINE_TOPK_SQL),
    "sim_embedding_outliers": (q_embedding_outliers, _OUTLIER_SQL),
    "sim_mmr_select": (q_mmr_select, _mmr_sql()),
    "sim_hard_negatives": (q_hard_negatives, _HARD_NEG_SQL),
    "sim_pq_adc_recall": (q_pq_adc_recall, _PQ_RECALL_SQL),
    "sim_semdedup_prune": (q_semdedup_prune, _SEMDEDUP_SQL),
    "sim_cluster_topterms": (q_cluster_topterms, _TOPTERMS_SQL),
    "graph_link_predict": (q_graph_link_predict, _LINK_PREDICT_SQL),
    "sim_knn_join_topk": (q_knn_join_topk, _KNN_JOIN_SQL),
    "sim_int8_quant_recall": (q_int8_quant_recall, _INT8_RECALL_SQL),
    "sim_ann_lsh_buckets": (q_ann_lsh_buckets, _ANN_LSH_SQL),
    "sim_embedding_neardup": (q_embedding_neardup_pairs, _neardup_sql()),
    "sim_ivf_topk": (q_ivf_topk, _IVF_SQL),
    "sim_kmeans_refine": (q_kmeans_refine, _KMEANS_SQL),
    "sim_margin_pair_mining": (q_margin_pair_mining, _MARGIN_SQL),
    "graph_knn_bfs_hops": (q_knn_bfs_hops, _BFS_SQL),
    "sim_ivf_delta_assign": (q_ivf_delta_assign, _IVF_DELTA_SQL),
    "sim_binary_quant_recall": (q_binary_quant_recall, _BINARY_RECALL_SQL),
    "sim_matryoshka_recall": (q_matryoshka_recall, _MATRYOSHKA_SQL),
    "sim_ivf_recall_curve": (q_ivf_recall_curve, _IVF_RECALL_CURVE_SQL),
    # ground-truth all-pairs oracle ON PURPOSE: hash-equality proves
    # the 3×3 grid cover catches every pair within R
    "sim_geo_grid_join": (q_geo_grid_join, _GEO_GRID_SQL),
}
