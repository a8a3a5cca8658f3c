"""Corpus retrieval operators: BM25 keyword search and PMI
collocation mining.

These are the index/probe side of a training-data pipeline — BM25 is
the standard first-stage retriever for query-based corpus audits
(contamination probes, targeted subset extraction, RAG candidate
generation before embedding re-rank), and PMI collocations are the
classic statistically-significant-phrase signal (Church & Hanks 1990)
used for tokenizer sanity checks and stop-phrase lists.

No reference-parity mapping: the reference (wizardus999-code/
OCR-intern) has no retrieval surface; these extend the engine's
training-data-pipeline coverage alongside the dedup / quality /
curation operators.

Float-portability discipline (shared with graph_provenance_rank):
per-term / per-pair contributions are rounded to 1e-9 BEFORE any
commutative sum whose accumulation order Spark does not guarantee,
and final scores to 1e-6, so the DuckDB oracle hashes bit-equal.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ocr_intern_spark.functions.text import words
from ocr_intern_spark.sources.tables import documents


# --- BM25 keyword search -----------------------------------------------------

# Robertson/Sparck-Jones BM25 with the standard Lucene constants.
BM25_K1 = 1.2
BM25_B = 0.75
BM25_QUERY = ("spark", "dup", "window")  # one rare term ("dup") for
                                         # real idf spread in the corpus
BM25_TOPK = 20


def _bm25_scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, score, rel): the BM25 score of every document with a
    positive score for BM25_QUERY, and rel = it holds ALL query terms.

    tf per term is a narrow higher-order-function expression over the
    token array; N, avgdl and df per term reduce to ONE 1-row
    aggregate that is broadcast back. Per-term contributions are
    rounded to 1e-9 before the explicit textual-order sum, the score
    to 1e-6."""
    d = documents(spark, sf_dir)
    toks = F.filter(
        words(F.lower(F.col("text"))),
        lambda w: F.length(w) > 0,
    )
    base = d.select("doc_id", toks.alias("toks"), F.size(toks).alias("dl"))

    def _tf(term: str):
        # one-arg closure: a 2-param lambda would be read by the HOF
        # binder as (element, index)
        return F.size(F.filter(F.col("toks"), lambda w: w == F.lit(term)))

    tf_cols = [_tf(t).alias(f"tf{i}") for i, t in enumerate(BM25_QUERY)]
    per_doc = base.select("doc_id", "dl", *tf_cols)
    stats = per_doc.agg(
        F.count("*").alias("n"),
        F.avg("dl").alias("avgdl"),
        *[
            F.sum((F.col(f"tf{i}") > 0).cast("bigint")).alias(f"df{i}")
            for i in range(len(BM25_QUERY))
        ],
    )

    def contrib(i: int):
        tf = F.col(f"tf{i}").cast("double")
        dff = F.col(f"df{i}").cast("double")
        idf = F.log(1.0 + (F.col("n") - dff + 0.5) / (dff + 0.5))
        norm = tf + BM25_K1 * (
            1.0 - BM25_B + BM25_B * (F.col("dl") / F.col("avgdl"))
        )
        return F.round(idf * ((tf * (BM25_K1 + 1.0)) / norm), 9)

    score = F.round(sum(contrib(i) for i in range(len(BM25_QUERY))), 6)
    rel = None
    for i in range(len(BM25_QUERY)):
        c = F.col(f"tf{i}") > 0
        rel = c if rel is None else rel & c
    return (
        per_doc.crossJoin(F.broadcast(stats))
        .select("doc_id", score.alias("score"), rel.alias("rel"))
        .where(F.col("score") > 0)
    )


def q_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-k document retrieval for a fixed conjunctive-OR query.

    score(d) = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1-b+b·dl/avgdl)),
    idf(t) = ln(1 + (N - df + 0.5)/(df + 0.5))  (Lucene's BM25 idf,
    always ≥ 0).

    Scale shape: with a FIXED small query, tf(t) per document is a
    narrow higher-order-function expression over the token array
    (`size(filter(toks, w -> w = t))`) — no explode, no per-token
    shuffle. Corpus statistics (N, avgdl, df per term) reduce to ONE
    1-row aggregate that is broadcast back, so the whole query is:
    one scan → one 1-row agg → narrow codegen scoring →
    TakeOrderedAndProject. At 10^12 docs nothing shuffles except the
    k-row top-k merge. (A user-supplied ad-hoc term SET would use the
    inverted-index explode like q_tfidf_keywords; fixed probes use
    this zero-shuffle form.)

    Per-term contributions are rounded to 1e-9 before the explicit
    3-term sum (sum order is textual, not aggregated — deterministic),
    final score to 1e-6.
    """
    return (
        _bm25_scored(spark, sf_dir)
        .select("doc_id", "score")
        .orderBy(F.col("score").desc(), "doc_id")
        .limit(BM25_TOPK)
    )


def _bm25_sql_parts() -> tuple[str, str]:
    """The DuckDB side of _bm25_scored: the base / per_doc / stats CTE
    list (tf and df columns per BM25_QUERY term) and the per-term
    contribution sum scored over it."""
    tf_cols = ",\n         ".join(
        f"len(list_filter(toks, w -> w = '{t}')) AS tf{i}"
        for i, t in enumerate(BM25_QUERY)
    )
    df_cols = ",\n         ".join(
        f"sum(CASE WHEN tf{i} > 0 THEN 1 ELSE 0 END) AS df{i}"
        for i in range(len(BM25_QUERY))
    )
    contribs = " + ".join(
        f"round(ln(1.0 + (n - CAST(df{i} AS DOUBLE) + 0.5)"
        f" / (CAST(df{i} AS DOUBLE) + 0.5))"
        f" * ((CAST(tf{i} AS DOUBLE) * {BM25_K1 + 1.0})"
        f" / (CAST(tf{i} AS DOUBLE) + {BM25_K1} * (1.0 - {BM25_B}"
        f" + {BM25_B} * (dl / avgdl)))), 9)"
        for i in range(len(BM25_QUERY))
    )
    ctes = f"""WITH base AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'),
                     w -> length(w) > 0) AS toks
  FROM documents
),
per_doc AS (
  SELECT doc_id, len(toks) AS dl,
         {tf_cols}
  FROM base
),
stats AS (
  SELECT count(*) AS n, avg(dl) AS avgdl,
         {df_cols}
  FROM per_doc
)"""
    return ctes, contribs


def _bm25_sql() -> str:
    ctes, contribs = _bm25_sql_parts()
    return f"""
{ctes}
SELECT doc_id, score FROM (
  SELECT doc_id, round({contribs}, 6) AS score
  FROM per_doc, stats
) WHERE score > 0
ORDER BY score DESC, doc_id
LIMIT {BM25_TOPK}
"""


# --- PMI collocations --------------------------------------------------------

PMI_MIN_PAIR = 5   # minimum bigram count (Church & Hanks' sparsity guard)
PMI_TOPK = 50


def q_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k adjacent-word collocations by pointwise mutual
    information: pmi(x,y) = ln( P(x,y) / (P(x)·P(y)) ) with P(x,y)
    estimated over adjacent bigram slots and P(x) over all tokens —
    computed as ln((c2·N_tok·N_tok) / (c1x·c1y·N_pair)) in one
    double-precision expression identical in both engines.

    Scale shape: bigrams come from zip-with-shift on the token array
    (narrow — the q_bigram_logprob pattern, no self-join). The corpus
    is scanned exactly TWICE (once per gram order): the unigram-count
    and bigram-count aggregates are cached and every downstream
    consumer — totals, the two idf-style joins, the cutoff — derives
    from those vocabulary-sized frames, never from a re-scan (Spark
    shares no subplans across consumers; without the cache this query
    plans 5 corpus scans — measured). At 100 TB the caches become
    checkpoint tables (the jaccard-index recipe) and the unigram side
    is broadcast — natural-language vocabularies plateau in the
    millions while bigram slots scale with the corpus. The count
    cutoff shrinks the bigram side BEFORE any join.
    """
    d = documents(spark, sf_dir)
    toks = words(F.lower(F.col("text")))
    pairs = F.zip_with(
        F.slice(toks, 1, F.greatest(F.size(toks) - 1, F.lit(0))),
        F.slice(toks, 2, F.greatest(F.size(toks) - 1, F.lit(0))),
        lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
    )
    bg = (
        d.where(F.size(toks) >= 2)
        .select(F.explode(pairs).alias("p"))
        .select(F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
        .where((F.length("w1") > 0) & (F.length("w2") > 0))
    )
    uni = (
        d.select(F.explode(toks).alias("w"))
        .where(F.length("w") > 0)
        .groupBy("w")
        .agg(F.count("*").alias("c1"))
        .cache()  # vocab-sized; reused for c1x, c1y, and n_tok
    )
    bgc = (
        bg.groupBy("w1", "w2")
        .agg(F.count("*").alias("c2"))
        .cache()  # bigram-type-sized; reused for c2 and n_pair
    )
    c2 = bgc.where(F.col("c2") >= PMI_MIN_PAIR)
    totals = uni.agg(F.sum("c1").alias("n_tok"))
    n_pair = bgc.agg(F.sum("c2").alias("n_pair"))
    pmi = F.round(
        F.log(
            (F.col("c2").cast("double") * F.col("n_tok") * F.col("n_tok"))
            / (
                F.col("c1x").cast("double")
                * F.col("c1y")
                * F.col("n_pair")
            )
        ),
        6,
    )
    return (
        c2.join(
            F.broadcast(uni.select(F.col("w").alias("w1"),
                                   F.col("c1").alias("c1x"))),
            "w1",
        )
        .join(
            F.broadcast(uni.select(F.col("w").alias("w2"),
                                   F.col("c1").alias("c1y"))),
            "w2",
        )
        .crossJoin(F.broadcast(totals))
        .crossJoin(F.broadcast(n_pair))
        .select("w1", "w2", "c2", pmi.alias("pmi"))
        .orderBy(F.col("pmi").desc(), "w1", "w2")
        .limit(PMI_TOPK)
    )


_PMI_SQL = f"""
WITH base AS (
  SELECT regexp_split_to_array(trim(lower(text)), '\\s+') AS toks
  FROM documents
),
bg AS (
  SELECT p[1] AS w1, p[2] AS w2 FROM (
    SELECT unnest(list_zip(list_slice(toks, 1, len(toks) - 1),
                           list_slice(toks, 2, len(toks)))) AS p
    FROM base WHERE len(toks) >= 2
  ) WHERE length(p[1]) > 0 AND length(p[2]) > 0
),
uni AS (
  SELECT w, count(*) AS c1 FROM (
    SELECT unnest(toks) AS w FROM base
  ) WHERE length(w) > 0 GROUP BY w
),
c2 AS (
  SELECT w1, w2, count(*) AS c2 FROM bg GROUP BY w1, w2
  HAVING count(*) >= {PMI_MIN_PAIR}
),
totals AS (SELECT sum(c1) AS n_tok FROM uni),
np AS (SELECT count(*) AS n_pair FROM bg)
SELECT w1, w2, c2,
       round(ln((CAST(c2 AS DOUBLE) * n_tok * n_tok)
                / (CAST(ux.c1 AS DOUBLE) * uy.c1 * n_pair)), 6) AS pmi
FROM c2
JOIN uni ux ON ux.w = c2.w1
JOIN uni uy ON uy.w = c2.w2
CROSS JOIN totals CROSS JOIN np
ORDER BY pmi DESC, w1, w2
LIMIT {PMI_TOPK}
"""


# --- Reciprocal-rank fusion (hybrid lexical + semantic retrieval) ------------

RRF_K = 60          # Cormack et al. SIGIR'09 constant
RRF_LIST_K = 20     # depth of each input ranking
RRF_TOPK = 20


def _bm25_ranked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-RRF_LIST_K with dense ranks attached — the q_bm25_search
    result (already a deterministic ORDER BY score DESC, doc_id) plus
    row_number over that same ordering. The window runs over a
    RRF_LIST_K-row frame, not the corpus."""
    from pyspark.sql import Window

    top = q_bm25_search(spark, sf_dir).limit(RRF_LIST_K)
    # bounded-window: frame is the RRF_LIST_K-row limit above
    w = Window.orderBy(F.col("score").desc(), F.col("doc_id"))
    return top.select("doc_id", F.row_number().over(w).alias("lex_rank"))


def _cosine_ranked(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ocr_intern_spark.operators.similarity import q_cosine_topk

    from pyspark.sql import Window

    top = q_cosine_topk(spark, sf_dir).limit(RRF_LIST_K)
    # bounded-window: frame is the RRF_LIST_K-row limit above
    w = Window.orderBy(F.col("cos").desc(), F.col("vec_id"))
    return top.select(
        F.col("vec_id").alias("doc_id"),
        F.row_number().over(w).alias("sem_rank"),
    )


def q_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal-rank fusion (Cormack, Clarke & Buettcher, SIGIR
    2009) of a lexical and a semantic ranking — the standard hybrid-
    retrieval merge in RAG stacks: rrf(d) = Σ_lists 1/(K + rank_d),
    K=60, a document absent from a list contributing 0.

    Inputs are this engine's own retrievers over the SAME id space:
    the BM25 top-20 (fixed probe query, documents table) and the
    exact cosine top-20 against the QUERY_VEC_ID embedding (vec_id ≡
    doc_id in the corpus). Full-outer join on doc_id, so docs found
    by either list are scored.

    Scale shape: each input ranking is scan → TakeOrderedAndProject
    (k rows); the fusion itself joins two K-ROW frames — constant
    work regardless of corpus size, after the rankers' single scans.
    The rank windows run over k-row frames (one partition by
    construction, and bounded by k, so the single-partition window
    is correct, not a bottleneck).

    Portability: ranks are integers; each 1/(K+rank) is one IEEE
    double division rounded to 1e-9; the two-term sum is textual
    (coalesce(a,0)+coalesce(b,0)), final score rounded to 1e-6."""
    lex = _bm25_ranked(spark, sf_dir)
    sem = _cosine_ranked(spark, sf_dir)

    def rr(col: str):
        return F.coalesce(
            F.round(F.lit(1.0) / (F.lit(RRF_K) + F.col(col)), 9),
            F.lit(0.0),
        )

    return (
        lex.join(sem, "doc_id", "full_outer")
        .select(
            "doc_id",
            F.round(rr("lex_rank") + rr("sem_rank"), 6).alias("rrf"),
            "lex_rank",
            "sem_rank",
        )
        .orderBy(F.col("rrf").desc(), "doc_id")
        .limit(RRF_TOPK)
    )


def _rrf_sql() -> str:
    # reuse the engine-shared constants/fragments (QUERY_VEC_ID, the
    # probe row, the cosine) so the oracle can't silently drift from
    # the Spark side if the query id or the cosine ever changes
    from ocr_intern_spark.operators.similarity import _Q_SQL, QUERY_VEC_ID, _sql_cos

    bm25 = _bm25_sql()
    cos = f"round({_sql_cos('embedding', 'qvec')}, 6)"
    return f"""
WITH bm25 AS ({bm25}),
lex AS (
  SELECT doc_id,
         row_number() OVER (ORDER BY score DESC, doc_id) AS lex_rank
  FROM bm25 LIMIT {RRF_LIST_K}
),
{_Q_SQL},
cosed AS (
  SELECT vec_id AS doc_id, {cos} AS cos
  FROM embeddings, q WHERE vec_id != {QUERY_VEC_ID}
  ORDER BY cos DESC, vec_id ASC LIMIT {RRF_LIST_K}
),
sem AS (
  SELECT doc_id,
         row_number() OVER (ORDER BY cos DESC, doc_id) AS sem_rank
  FROM cosed
)
SELECT doc_id,
       round(COALESCE(round(1.0 / ({RRF_K} + lex_rank), 9), 0.0)
             + COALESCE(round(1.0 / ({RRF_K} + sem_rank), 9), 0.0),
             6) AS rrf,
       CAST(lex_rank AS INT) AS lex_rank,
       CAST(sem_rank AS INT) AS sem_rank
FROM lex FULL OUTER JOIN sem USING (doc_id)
ORDER BY rrf DESC, doc_id LIMIT {RRF_TOPK}
"""


def q_bm25_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking-EVALUATION metrics for the BM25 retriever — the
    retrieval sibling of the language-ID confusion matrix: with
    relevance defined as conjunctive containment (a doc holding ALL
    query terms), one row of exact-integer metrics: hits@5/10/20,
    precision@20 and recall@20 in ppm, the first relevant rank, and
    MRR in micro-units. Positive-operand integer division only —
    floor-identical in both engines; the one float (the BM25 score)
    is the already-rounded-to-6 retrieval score, compared but never
    aggregated.

    first_rank avoids ANY corpus-wide window: the best relevant doc
    is a combinable max(struct(score, −doc_id)), and its rank is
    1 + count{docs ordered strictly before it} — two 1-row broadcast
    scalars, the MMR/TWAP bounded class.

    Scale shape: inherits the zero-shuffle BM25 scoring pass; the
    metrics add one TakeOrdered(20), two 1-row aggregates, and
    conditional counts."""
    scored = _bm25_scored(
        spark, sf_dir
    ).cache()  # reused: top-k, best-relevant scalar, rank count
    topk = (
        scored.orderBy(F.col("score").desc(), "doc_id")
        .limit(BM25_TOPK)
        .select(
            "rel",
            F.row_number()
            # bounded-window: frame is the BM25_TOPK-row limit above
            .over(Window.orderBy(F.desc("score"), F.asc("doc_id")))
            .alias("rk"),
        )
    )
    hits = topk.agg(
        F.sum(F.when(F.col("rel") & (F.col("rk") <= 5), 1).otherwise(0))
        .cast("long")
        .alias("hits_5"),
        F.sum(F.when(F.col("rel") & (F.col("rk") <= 10), 1).otherwise(0))
        .cast("long")
        .alias("hits_10"),
        F.sum(F.when(F.col("rel"), 1).otherwise(0))
        .cast("long")
        .alias("hits_20"),
    )
    best = scored.where("rel").agg(
        F.count("*").cast("long").alias("n_relevant"),
        F.max(F.struct("score", (-F.col("doc_id")).alias("nid"))).alias(
            "bk"
        ),
    )
    ranked = scored.crossJoin(F.broadcast(best)).agg(
        (
            F.lit(1)
            + F.sum(
                F.when(
                    (F.col("score") > F.col("bk.score"))
                    | (
                        (F.col("score") == F.col("bk.score"))
                        & (F.col("doc_id") < -F.col("bk.nid"))
                    ),
                    1,
                ).otherwise(0)
            )
        )
        .cast("long")
        .alias("first_rank")
    )
    return (
        hits.crossJoin(F.broadcast(best.select("n_relevant")))
        .crossJoin(F.broadcast(ranked))
        .select(
            "n_relevant",
            "hits_5",
            "hits_10",
            "hits_20",
            F.expr(f"hits_20 * 1000000 div {BM25_TOPK}").alias("p20_ppm"),
            F.expr("hits_20 * 1000000 div n_relevant").alias(
                "recall20_ppm"
            ),
            "first_rank",
            F.expr("1000000 div first_rank").alias("mrr_micro"),
        )
    )


def _bm25_eval_sql() -> str:
    ctes, contribs = _bm25_sql_parts()
    rel = " AND ".join(f"tf{i} > 0" for i in range(len(BM25_QUERY)))
    return f"""
{ctes},
scored AS (
  SELECT doc_id, round({contribs}, 6) AS score, ({rel}) AS rel
  FROM per_doc CROSS JOIN stats
  WHERE round({contribs}, 6) > 0
),
topk AS (
  SELECT rel, row_number() OVER (ORDER BY score DESC, doc_id) AS rk
  FROM scored ORDER BY score DESC, doc_id LIMIT {BM25_TOPK}
),
hits AS (
  SELECT CAST(sum(CASE WHEN rel AND rk <= 5 THEN 1 ELSE 0 END) AS BIGINT)
           AS hits_5,
         CAST(sum(CASE WHEN rel AND rk <= 10 THEN 1 ELSE 0 END) AS BIGINT)
           AS hits_10,
         CAST(sum(CASE WHEN rel THEN 1 ELSE 0 END) AS BIGINT) AS hits_20
  FROM topk
),
best AS (
  SELECT CAST(count(*) AS BIGINT) AS n_relevant,
         (SELECT score FROM scored WHERE rel
          ORDER BY score DESC, doc_id LIMIT 1) AS bscore,
         (SELECT doc_id FROM scored WHERE rel
          ORDER BY score DESC, doc_id LIMIT 1) AS bid
  FROM scored WHERE rel
),
ranked AS (
  SELECT CAST(1 + sum(CASE WHEN s.score > b.bscore
                            OR (s.score = b.bscore AND s.doc_id < b.bid)
                       THEN 1 ELSE 0 END) AS BIGINT) AS first_rank
  FROM scored s CROSS JOIN best b
)
SELECT n_relevant, hits_5, hits_10, hits_20,
       CAST(hits_20 * 1000000 // {BM25_TOPK} AS BIGINT) AS p20_ppm,
       CAST(hits_20 * 1000000 // n_relevant AS BIGINT) AS recall20_ppm,
       first_rank,
       CAST(1000000 // first_rank AS BIGINT) AS mrr_micro
FROM hits CROSS JOIN best CROSS JOIN ranked
"""


QUERIES = {
    "text_bm25_search": (q_bm25_search, _bm25_sql()),
    "text_bm25_eval": (q_bm25_eval, _bm25_eval_sql()),
    "text_pmi_collocations": (q_pmi_collocations, _PMI_SQL),
    "text_rrf_fusion": (q_rrf_fusion, _rrf_sql()),
}
