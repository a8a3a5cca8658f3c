"""Text-analysis operators for training-data pipelines (SURVEY.md §2
"beyond the reference" set): language ID, quality scoring, token
counting, fingerprinting. All native Catalyst expressions — JVM-side,
vectorized, codegen-friendly.

Each query here has a DuckDB oracle (ANSI SQL on the same parquet) so
the driver's correctness gate covers it.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ocr_intern_spark.functions.normalizers import guess_lang
from ocr_intern_spark.sources.tables import documents, table

# Tiny deterministic stopword set (shared with the SQL oracle).
STOPWORDS = ("the", "a", "of", "and", "to", "in", "is", "on", "for")


def words(text: Column) -> Column:
    """The word rule every Spark-side text query shares: the text,
    space-trimmed, split on whitespace runs. Blank text gives [""].
    Pass `F.lower(col)` for case-folded words."""
    return F.split(F.trim(text), r"\s+")


def word_ngrams(toks: Column, n: int) -> Column:
    """Stride-1 n-word windows of a word array, each joined by one
    space. An array shorter than n gives one window, the whole array
    joined; callers that need full windows filter size(toks) >= n."""
    return F.transform(
        F.sequence(F.lit(0), F.greatest(F.size(toks) - n, F.lit(0))),
        lambda i: F.array_join(F.slice(toks, i + 1, n), " "),
    )


def token_count(text: Column) -> Column:
    """Whitespace token count; empty/blank text counts 0."""
    return F.when(F.length(F.trim(text)) == 0, F.lit(0)).otherwise(
        F.size(words(text))
    )


def punct_ratio(text: Column) -> Column:
    no_punct = F.regexp_replace(text, r"[^\p{L}\p{N}\s]", "")
    # '' text → NULL (as in DuckDB), not DIVIDE_BY_ZERO under ANSI
    return F.try_divide(
        (F.length(text) - F.length(no_punct)).cast("double"), F.length(text)
    )


def stopword_ratio(text: Column) -> Column:
    toks = words(F.lower(text))
    stop = F.size(F.filter(toks, lambda w: w.isin(*STOPWORDS)))
    return stop.cast("double") / F.size(toks)


def quality_score(text: Column) -> Column:
    """Composite [0,1] quality heuristic: length band + low punct +
    sane stopword mass (Gopher/C4-style rules, simplified and
    deterministic)."""
    n = token_count(text)
    len_ok = F.when(n.between(10, 5000), F.lit(0.5)).otherwise(F.lit(0.0))
    punct_ok = F.when(punct_ratio(text) < 0.2, F.lit(0.25)).otherwise(F.lit(0.0))
    stop_ok = F.when(stopword_ratio(text) > 0.01, F.lit(0.25)).otherwise(F.lit(0.0))
    return len_ok + punct_ok + stop_ok


def normalized_text(text: Column) -> Column:
    """Lowercased text with each whitespace run collapsed to one space
    and the ends trimmed; NORMALIZED_TEXT_SQL is the DuckDB twin."""
    return F.trim(F.regexp_replace(F.lower(text), r"\s+", " "))


def fingerprint(text: Column) -> Column:
    """Document fingerprint: md5 of the normalized text (portable
    across engines); FINGERPRINT_SQL is the DuckDB twin."""
    return F.md5(normalized_text(text))


NORMALIZED_TEXT_SQL = "trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))"
FINGERPRINT_SQL = f"md5({NORMALIZED_TEXT_SQL})"


# ---------------------------------------------------------------------------
# Query registry (name -> ((spark, sf_dir) -> DataFrame, oracle_sql))
# ---------------------------------------------------------------------------


def q_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = documents(spark, sf_dir)
    return d.select(
        "doc_id",
        token_count(F.col("text")).alias("n_tokens"),
        F.round(stopword_ratio(F.col("text")), 6).alias("stop_ratio"),
        fingerprint(F.col("text")).alias("fp"),
    )


_TOKEN_STATS_SQL = f"""
SELECT doc_id,
       CASE WHEN length(trim(text)) = 0 THEN 0
            ELSE length(regexp_split_to_array(trim(text), '\\s+')) END AS n_tokens,
       round(
         CAST(length(list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'),
                                 w -> list_contains({list(STOPWORDS)!r}, w))) AS DOUBLE)
         / length(regexp_split_to_array(lower(trim(text)), '\\s+')), 6) AS stop_ratio,
       {FINGERPRINT_SQL} AS fp
FROM documents
"""


def q_lang_guess(spark: SparkSession, sf_dir: str) -> DataFrame:
    """V13 language guess, with deterministic Arabic injection so the
    Arabic branch is exercised on the latin-only testdata."""
    d = documents(spark, sf_dir)
    probe = F.when(
        F.col("doc_id") % 4 == 0, F.concat(F.col("text"), F.lit(" شهادة"))
    ).when(F.col("doc_id") % 4 == 1, F.lit("123 456 !!")).otherwise(F.col("text"))
    return d.select("doc_id", guess_lang(probe).alias("lang_guess"))


_LANG_GUESS_SQL = """
SELECT doc_id,
       CASE
         WHEN regexp_matches(probe, '[؀-ۿ]') THEN 'arabic'
         WHEN regexp_matches(lower(probe), '[a-z]') THEN 'french'
         ELSE NULL
       END AS lang_guess
FROM (
  SELECT doc_id,
         CASE WHEN doc_id % 4 = 0 THEN text || ' شهادة'
              WHEN doc_id % 4 = 1 THEN '123 456 !!'
              ELSE text END AS probe
  FROM documents
)
"""

def q_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = documents(spark, sf_dir)
    return d.select(
        "doc_id", F.round(quality_score(F.col("text")), 6).alias("quality")
    )


_QUALITY_SQL = f"""
SELECT doc_id,
       round(
         (CASE WHEN n_tokens BETWEEN 10 AND 5000 THEN 0.5::DOUBLE ELSE 0.0::DOUBLE END)
       + (CASE WHEN punct_ratio < 0.2 THEN 0.25::DOUBLE ELSE 0.0::DOUBLE END)
       + (CASE WHEN stop_ratio > 0.01 THEN 0.25::DOUBLE ELSE 0.0::DOUBLE END), 6) AS quality
FROM (
  SELECT doc_id,
         CASE WHEN length(trim(text)) = 0 THEN 0
              ELSE length(regexp_split_to_array(trim(text), '\\s+')) END AS n_tokens,
         CAST(length(text) - length(regexp_replace(text, '[^\\p{{L}}\\p{{N}}\\s]', '', 'g')) AS DOUBLE)
           / length(text) AS punct_ratio,
         CAST(length(list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'),
                                 w -> list_contains({list(STOPWORDS)!r}, w))) AS DOUBLE)
           / length(regexp_split_to_array(lower(trim(text)), '\\s+')) AS stop_ratio
  FROM documents
)
"""

def q_corpus_filter_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-data survival funnel per source: how many documents
    pass the quality gate, the language gate, and both — the canonical
    shape of a pretraining-corpus filter stage. One scan, one hash
    aggregate with map-side partials (conditional sums, no joins,
    no second pass per gate)."""
    d = documents(spark, sf_dir)
    q = quality_score(F.col("text"))
    lang_ok = guess_lang(F.col("text")) == "french"  # latin-script gate
    pass_q = (q >= 0.75).cast("int")
    pass_l = lang_ok.cast("int")
    return (
        d.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(pass_q).alias("n_pass_quality"),
            F.sum(pass_l).alias("n_pass_lang"),
            F.sum(pass_q * pass_l).alias("n_keep"),
        )
        .orderBy("source")
    )


_FUNNEL_SQL = f"""
WITH scored AS (
  SELECT source,
         (CASE WHEN n_tokens BETWEEN 10 AND 5000 THEN 0.5::DOUBLE ELSE 0.0::DOUBLE END)
       + (CASE WHEN punct_ratio < 0.2 THEN 0.25::DOUBLE ELSE 0.0::DOUBLE END)
       + (CASE WHEN stop_ratio > 0.01 THEN 0.25::DOUBLE ELSE 0.0::DOUBLE END) AS quality,
         lang_ok
  FROM (
    SELECT source,
           CASE WHEN length(trim(text)) = 0 THEN 0
                ELSE length(regexp_split_to_array(trim(text), '\\s+')) END AS n_tokens,
           CAST(length(text) - length(regexp_replace(text, '[^\\p{{L}}\\p{{N}}\\s]', '', 'g')) AS DOUBLE)
             / length(text) AS punct_ratio,
           CAST(length(list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'),
                                   w -> list_contains({list(STOPWORDS)!r}, w))) AS DOUBLE)
             / length(regexp_split_to_array(lower(trim(text)), '\\s+')) AS stop_ratio,
           (NOT regexp_matches(text, '[؀-ۿ]')) AND regexp_matches(lower(text), '[a-z]') AS lang_ok
    FROM documents
  )
)
SELECT source, count(*) AS n_docs,
       CAST(sum(CASE WHEN quality >= 0.75 THEN 1 ELSE 0 END) AS BIGINT) AS n_pass_quality,
       CAST(sum(CASE WHEN lang_ok THEN 1 ELSE 0 END) AS BIGINT) AS n_pass_lang,
       CAST(sum(CASE WHEN quality >= 0.75 AND lang_ok THEN 1 ELSE 0 END) AS BIGINT) AS n_keep
FROM scored GROUP BY source ORDER BY source
"""


REP_N = 2  # bigram repetition


def q_repetition_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition signal: fraction of bigrams that are
    repeats (1 - distinct/total), plus the same for unigrams — the
    standard filter for degenerate/looping text. Pure higher-order
    array functions, one narrow stage. Probe text doubles every 5th
    doc's tail so the filter fires on the latin word-soup testdata."""
    d = documents(spark, sf_dir)
    probe = F.when(
        F.col("doc_id") % 5 == 0,
        F.concat(F.col("text"), F.lit(" "), F.col("text")),
    ).otherwise(F.col("text"))
    toks = words(F.lower(probe))
    n = F.size(toks)
    grams = word_ngrams(toks, REP_N)
    rep_uni = F.when(
        n > 0,
        F.lit(1.0) - F.size(F.array_distinct(toks)) / n.cast("double"),
    ).otherwise(F.lit(0.0))
    rep_bi = F.when(
        F.size(grams) > 0,
        F.lit(1.0)
        - F.size(F.array_distinct(grams)) / F.size(grams).cast("double"),
    ).otherwise(F.lit(0.0))
    return d.select(
        "doc_id",
        F.round(rep_uni, 6).alias("rep_unigram"),
        F.round(rep_bi, 6).alias("rep_bigram"),
        (rep_bi > 0.3).alias("degenerate"),
    )


_REPETITION_SQL = f"""
SELECT doc_id,
       round(CASE WHEN len(toks) > 0
             THEN 1.0 - len(list_distinct(toks)) / CAST(len(toks) AS DOUBLE)
             ELSE 0.0 END, 6) AS rep_unigram,
       round(CASE WHEN len(grams) > 0
             THEN 1.0 - len(list_distinct(grams)) / CAST(len(grams) AS DOUBLE)
             ELSE 0.0 END, 6) AS rep_bigram,
       (CASE WHEN len(grams) > 0
             THEN 1.0 - len(list_distinct(grams)) / CAST(len(grams) AS DOUBLE)
             ELSE 0.0 END) > 0.3 AS degenerate
FROM (
  SELECT doc_id, toks,
         list_transform(range(0, greatest(len(toks) - {REP_N}, 0) + 1),
                        i -> array_to_string(list_slice(toks, i + 1, i + {REP_N}), ' ')) AS grams
  FROM (
    SELECT doc_id,
           regexp_split_to_array(trim(lower(
             CASE WHEN doc_id % 5 = 0 THEN text || ' ' || text ELSE text END
           )), '\\s+') AS toks
    FROM documents
  )
)
"""


# Gopher repetition filters (Rae et al. 2021, §A1.1): character-mass
# fractions of the single most frequent {2,3,4}-gram and of all
# duplicated {5,6}-grams, with the paper's removal thresholds.
GOPHER_TOP_NS = (2, 3, 4)
GOPHER_DUP_NS = (5, 6)
GOPHER_TOP_THRESH = {2: 0.20, 3: 0.18, 4: 0.16}
GOPHER_DUP_THRESH = {5: 0.15, 6: 0.14}


def q_gopher_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition removal signals, one row per doc:

    * ``top{n}gram_frac`` (n=2,3,4): fraction of the document's
      characters covered by occurrences of its single most frequent
      n-gram (ties broken by lexicographically smallest gram);
    * ``dup{n}gram_frac`` (n=5,6): fraction of characters covered by
      n-grams occurring more than once (overlap NOT deduplicated —
      each occurrence contributes its full gram length; documented
      deterministic semantics shared with the oracle);
    * ``gopher_flag``: any fraction above the paper's threshold.

    Character mass is ``count * length(gram)`` over the
    space-normalized text, so every fraction is a ratio of exact
    integers — bit-portable across engines. Same doubled-tail probe
    as q_repetition_ratio so duplicated 5/6-grams exist in the
    synthetic word-soup corpus.

    Scale shape (r6): grams for ALL five n come from ONE codegen'd
    lead()-window over the exploded token stream (lead(w,1..5) +
    concat_ws — NULL leads at the doc tail drop out of concat_ws
    exactly like the oracle's short tail slices), and every
    aggregation after it is keyed by doc_id prefixes over data
    already hash-clustered by doc, so the plan has exactly ONE
    exchange: the doc-row repartition feeding the window. That one
    doc-keyed corpus shuffle buys fully codegen'd gram construction;
    both zero-exchange alternatives ran interpreted and were
    measured slower at every size (higher-order-function fold 5.4 s,
    original 3-exchange explode+hash-agg 10.1 s, this form 2.1 s at
    10x-sf0.1 on local[32]). Identical output (oracle hash-exact
    ×3 sfs); the window frame is per-doc and row-bounded."""
    from pyspark.sql.window import Window

    d = table(spark, sf_dir, "documents")
    # window needs doc-clustered rows; spread fine-grained so the
    # per-task sort/aggregate state stays small (never narrower than
    # the scan)
    parts = max(
        4 * spark.sparkContext.defaultParallelism,
        d.rdd.getNumPartitions(),
    )
    ns = (*GOPHER_TOP_NS, *GOPHER_DUP_NS)
    probe = F.when(
        F.col("doc_id") % 5 == 0,
        F.concat(F.col("text"), F.lit(" "), F.col("text")),
    ).otherwise(F.col("text"))
    toks = words(F.lower(probe))
    base = d.repartition(parts, "doc_id").select(
        "doc_id",
        toks.alias("toks"),
        F.length(F.array_join(toks, " ")).alias("total_chars"),
    )
    tokrows = base.select(
        "doc_id",
        "total_chars",
        F.size("toks").alias("len"),
        F.posexplode("toks").alias("i", "w"),
    )
    wspec = Window.partitionBy("doc_id").orderBy("i")
    leads = tokrows.select(
        "doc_id",
        "total_chars",
        "len",
        "i",
        "w",
        *[F.lead("w", k).over(wspec).alias(f"w{k}") for k in range(1, max(ns))],
    )
    # gram for n starts at positions 0..max(len-n, 0) — same range as
    # the oracle's slice loop, including the one short tail gram of a
    # too-short doc (concat_ws skips the NULL leads)
    gram_structs = F.array(
        *[
            F.struct(
                F.lit(n).alias("n"),
                F.concat_ws(
                    " ", "w", *[f"w{k}" for k in range(1, n)]
                ).alias("g"),
                (F.col("i") <= F.greatest(F.col("len") - n, F.lit(0))).alias(
                    "ok"
                ),
            )
            for n in ns
        ]
    )
    exploded = (
        leads.select("doc_id", "total_chars", F.explode(gram_structs).alias("p"))
        .where(F.col("p.ok"))
        .select(
            "doc_id",
            "total_chars",
            F.col("p.n").alias("n"),
            F.col("p.g").alias("g"),
        )
    )
    counts = exploded.groupBy("doc_id", "total_chars", "n", "g").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    # Top gram by (cnt desc, g asc) without a second window: the order
    # is encoded into one string — 12-digit zero-padded (MAX - cnt)
    # prefix, gram suffix — whose lexicographic min IS the wanted
    # order (binary UTF8 comparison on both engines).
    _CNT_MAX = 999_999_999_999
    enc = F.concat(
        F.lpad((F.lit(_CNT_MAX) - F.col("cnt")).cast("string"), 12, "0"),
        F.col("g"),
    )
    per_n = counts.groupBy("doc_id", "total_chars", "n").agg(
        F.min(enc).alias("top_enc"),
        F.sum(
            F.when(F.col("cnt") >= 2, F.col("cnt") * F.length("g")).otherwise(F.lit(0))
        ).alias("dup_chars"),
    ).select(
        "doc_id",
        "total_chars",
        "n",
        (
            (F.lit(_CNT_MAX) - F.substring("top_enc", 1, 12).cast("bigint"))
            * (F.length("top_enc") - 12)
        ).alias("top_chars"),
        "dup_chars",
    )

    def _frac(num: Column) -> Column:
        return num.cast("double") / F.col("total_chars").cast("double")

    top_cols = {
        n: _frac(F.sum(F.when(F.col("n") == n, F.col("top_chars")).otherwise(F.lit(0))))
        for n in GOPHER_TOP_NS
    }
    dup_cols = {
        n: _frac(F.sum(F.when(F.col("n") == n, F.col("dup_chars")).otherwise(F.lit(0))))
        for n in GOPHER_DUP_NS
    }
    flag = None
    for n, c in top_cols.items():
        e = c > GOPHER_TOP_THRESH[n]
        flag = e if flag is None else (flag | e)
    for n, c in dup_cols.items():
        flag = flag | (c > GOPHER_DUP_THRESH[n])
    return per_n.groupBy("doc_id", "total_chars").agg(
        *[F.round(c, 6).alias(f"top{n}gram_frac") for n, c in top_cols.items()],
        *[F.round(c, 6).alias(f"dup{n}gram_frac") for n, c in dup_cols.items()],
        flag.alias("gopher_flag"),
    ).select(
        "doc_id",
        *[f"top{n}gram_frac" for n in GOPHER_TOP_NS],
        *[f"dup{n}gram_frac" for n in GOPHER_DUP_NS],
        "gopher_flag",
    )


def _gopher_sql() -> str:
    ns = ", ".join(str(n) for n in (*GOPHER_TOP_NS, *GOPHER_DUP_NS))
    top_sel = ",\n".join(
        f"       round(CAST(sum(CASE WHEN n = {n} THEN top_chars ELSE 0 END) AS DOUBLE)"
        f" / total_chars, 6) AS top{n}gram_frac"
        for n in GOPHER_TOP_NS
    )
    dup_sel = ",\n".join(
        f"       round(CAST(sum(CASE WHEN n = {n} THEN dup_chars ELSE 0 END) AS DOUBLE)"
        f" / total_chars, 6) AS dup{n}gram_frac"
        for n in GOPHER_DUP_NS
    )
    flag_terms = [
        f"CAST(sum(CASE WHEN n = {n} THEN top_chars ELSE 0 END) AS DOUBLE)"
        f" / total_chars > {GOPHER_TOP_THRESH[n]}"
        for n in GOPHER_TOP_NS
    ] + [
        f"CAST(sum(CASE WHEN n = {n} THEN dup_chars ELSE 0 END) AS DOUBLE)"
        f" / total_chars > {GOPHER_DUP_THRESH[n]}"
        for n in GOPHER_DUP_NS
    ]
    flag = " OR ".join(flag_terms)
    return f"""
WITH base AS (
  SELECT doc_id,
         regexp_split_to_array(trim(lower(
           CASE WHEN doc_id % 5 = 0 THEN text || ' ' || text ELSE text END
         )), '\\s+') AS toks
  FROM documents
), sized AS (
  SELECT doc_id, toks, length(array_to_string(toks, ' ')) AS total_chars
  FROM base
), exploded AS (
  SELECT doc_id, total_chars, n,
         unnest(list_transform(range(0, greatest(len(toks) - n, 0) + 1),
                i -> array_to_string(list_slice(toks, i + 1, i + n), ' '))) AS g
  FROM sized, (SELECT unnest([{ns}]) AS n) nn
), counts AS (
  SELECT doc_id, total_chars, n, g, count(*) AS cnt
  FROM exploded GROUP BY doc_id, total_chars, n, g
), ranked AS (
  SELECT *, row_number() OVER (PARTITION BY doc_id, n
                               ORDER BY cnt DESC, g ASC) AS rk
  FROM counts
), per_n AS (
  SELECT doc_id, total_chars, n,
         CAST(sum(CASE WHEN rk = 1 THEN cnt * length(g) ELSE 0 END) AS BIGINT) AS top_chars,
         CAST(sum(CASE WHEN cnt >= 2 THEN cnt * length(g) ELSE 0 END) AS BIGINT) AS dup_chars
  FROM ranked GROUP BY doc_id, total_chars, n
)
SELECT doc_id,
{top_sel},
{dup_sel},
       ({flag}) AS gopher_flag
FROM per_n GROUP BY doc_id, total_chars
"""


_GOPHER_SQL = _gopher_sql()


VOCAB_TOPK = 50


def q_vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide token vocabulary: the VOCAB_TOPK most frequent
    whitespace tokens with term frequency and document frequency —
    the frequency-table step every tokenizer build (BPE seed vocab,
    unigram-LM init) starts from. Ties broken lexicographically.

    Scale shape: ONE token explode → per-(token, doc) counts (hash
    agg, map-side partials) → per-token sum/count in a second level,
    so tf and df come from a single corpus scan and no count-distinct
    hash set ever exceeds a partition; final top-K is orderBy+limit =
    TakeOrderedAndProject (per-partition heaps, a K-row driver merge
    — no global sort). Rank assigned AFTER the limit on a K-row
    frame, so the window is bounded."""
    from pyspark.sql.window import Window

    d = documents(spark, sf_dir)
    toks = d.select(
        "doc_id",
        F.explode(words(F.lower(F.col("text")))).alias("tok"),
    )
    per_doc = toks.groupBy("tok", "doc_id").agg(F.count(F.lit(1)).alias("cnt"))
    top = (
        per_doc.groupBy("tok")
        .agg(F.sum("cnt").alias("tf"), F.count(F.lit(1)).alias("df"))
        .orderBy(F.desc("tf"), F.asc("tok"))
        .limit(VOCAB_TOPK)
    )
    return top.select(
        # bounded-window: frame is the VOCAB_TOPK-row limit above, not the vocab
        (F.row_number().over(Window.orderBy(F.desc("tf"), F.asc("tok")))).alias("rank"),
        "tok",
        "tf",
        "df",
    )


_VOCAB_SQL = f"""
WITH toks AS (
  SELECT doc_id,
         unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS tok
  FROM documents
), tf AS (
  SELECT tok, CAST(count(*) AS BIGINT) AS tf FROM toks GROUP BY tok
), df AS (
  SELECT tok, CAST(count(*) AS BIGINT) AS df
  FROM (SELECT DISTINCT tok, doc_id FROM toks) GROUP BY tok
)
SELECT CAST(row_number() OVER (ORDER BY tf.tf DESC, tf.tok ASC) AS INT) AS rank,
       tf.tok, tf.tf, df.df
FROM tf JOIN df USING (tok)
ORDER BY tf.tf DESC, tf.tok ASC LIMIT {VOCAB_TOPK}
"""


# --- corpus-law fits (Zipf rank-frequency, Heaps vocabulary growth) -----------


def _ols_cols(n, sx, sy, sxy, sxx, syy):
    """Closed-form simple OLS of y on x from the five power sums:
    (slope, intercept, r²) — the one-aggregate distributed regression
    shape (power sums are map-side-combinable; the final division is
    driver-free arithmetic on a 1-row frame)."""
    slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    intercept = (sy - slope * sx) / n
    r2 = ((n * sxy - sx * sy) * (n * sxy - sx * sy)) / (
        (n * sxx - sx * sx) * (n * syy - sy * sy)
    )
    return slope, intercept, r2


def q_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf rank-frequency fit: OLS slope of ln(freq) on ln(rank)
    over the full token vocabulary (natural text ≈ −1; a slope far
    off flags templated/boilerplate or synthetic corpora — the
    sanity gauge run next to q_vocab_topk before committing a crawl
    to the mix).

    Scale shape: ONE token explode → per-token HashAggregate
    (map-side partials); ranking runs DISTRIBUTED via
    skew.global_rank (range-partition sort + prefix offsets + local
    row_number — every window frame bounded by vocab/partitions, no
    single-reducer rank even at a 10^9-token vocabulary); the five
    OLS power sums are one map-side-combinable aggregate. One row out.

    Portability: counts/ranks exact; power sums are ≤vocab-term
    double sums under the 1e-6-round reassociation contract (the
    distributed sum order differs from DuckDB's either way — the
    round(…, 6) on the outputs is what both engines pin)."""
    from ocr_intern_spark.operators.skew import global_rank

    d = documents(spark, sf_dir)
    vocab = (
        d.select(
            F.explode(words(F.lower(F.col("text")))).alias("tok")
        )
        .where(F.length("tok") > 0)
        .groupBy("tok")
        .agg(F.count("*").alias("cnt"))
    )
    ranked = global_rank(vocab, F.desc("cnt"), F.asc("tok")).select(
        "rank", "cnt"
    )
    pts = ranked.select(
        F.log(F.col("rank").cast("double")).alias("x"),
        F.log(F.col("cnt").cast("double")).alias("y"),
    )
    agg = pts.agg(
        F.count("*").cast("double").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    slope, intercept, r2 = _ols_cols(
        F.col("n"), F.col("sx"), F.col("sy"),
        F.col("sxy"), F.col("sxx"), F.col("syy"),
    )
    return agg.select(
        F.col("n").cast("long").alias("vocab_size"),
        F.round(slope, 6).alias("zipf_slope"),
        F.round(intercept, 6).alias("zipf_intercept"),
        F.round(r2, 6).alias("r2"),
    )


_ZIPF_SQL = """
WITH vocab AS (
  SELECT tok, count(*) AS cnt FROM (
    SELECT unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS tok
    FROM documents
  ) WHERE length(tok) > 0 GROUP BY tok
),
pts AS (
  SELECT ln(CAST(row_number() OVER (ORDER BY cnt DESC, tok ASC) AS DOUBLE)) AS x,
         ln(CAST(cnt AS DOUBLE)) AS y
  FROM vocab
),
agg AS (
  SELECT CAST(count(*) AS DOUBLE) AS n, sum(x) AS sx, sum(y) AS sy,
         sum(x * y) AS sxy, sum(x * x) AS sxx, sum(y * y) AS syy
  FROM pts
)
SELECT CAST(n AS BIGINT) AS vocab_size,
       round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS zipf_slope,
       round((sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx) / n, 6)
         AS zipf_intercept,
       round(((n * sxy - sx * sy) * (n * sxy - sx * sy))
             / ((n * sxx - sx * sx) * (n * syy - sy * sy)), 6) AS r2
FROM agg
"""

HEAPS_BUCKETS = 10  # corpus-growth checkpoints (ingest-time epochs /
                    # partition watermarks at real scale)
HEAPS_NGRAM = 2     # distinct BIGRAMS as the vocabulary: the synthetic
                    # unigram vocab saturates in the first bucket
                    # (growth flat — fit vacuous), bigram vocab grows


def q_heaps_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps'-law vocabulary-growth fit: cumulative distinct bigram
    vocabulary V(n) against cumulative bigram instances n across
    HEAPS_BUCKETS corpus-growth checkpoints, with the OLS fit of
    ln V on ln n (V ≈ K·n^β, natural text β ≈ 0.4-0.6). A β collapse
    means the crawl stopped finding new content — the diminishing-
    returns gauge for continued ingestion.

    Scale shape: one explode → (bucket, gram) instance frame; token
    totals are one map-side-combinable count, vocabulary growth is
    the gram→min(bucket) first-occurrence aggregate (the
    q_novelty_score shape) re-aggregated per bucket; everything after
    lives on the BUCKETS-row frame (bounded 10-row cumulative window
    + 1-row OLS). Buckets derive from doc_id range here; at real
    scale they are ingest epochs.

    Portability: cumulative counts exact integers; the ≤10-term OLS
    power sums fall under the 1e-6-round contract."""
    from pyspark.sql.window import Window

    d = documents(spark, sf_dir)
    mx = d.agg(F.max("doc_id").alias("mx"))
    toks = words(F.lower(F.col("text")))
    grams = word_ngrams(toks, HEAPS_NGRAM)
    inst = (
        d.crossJoin(F.broadcast(mx))
        .where(F.size(toks) >= HEAPS_NGRAM)
        .select(
            # floor() explicitly: Spark's long-cast truncates while
            # DuckDB's CAST rounds — floor is identical in both
            F.floor(F.col("doc_id") * HEAPS_BUCKETS / (F.col("mx") + 1))
            .cast("long")
            .alias("bucket"),
            F.explode(grams).alias("g"),
        )
    ).cache()
    per_bucket = inst.groupBy("bucket").agg(F.count("*").alias("n_inst"))
    new_vocab = (
        inst.groupBy("g")
        .agg(F.min("bucket").alias("bucket"))
        .groupBy("bucket")
        .agg(F.count("*").alias("n_new"))
    )
    # bounded-window: frame is HEAPS_BUCKETS rows (corpus-growth checkpoints)
    w = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, 0)
    growth = (
        per_bucket.join(new_vocab, "bucket", "left")
        .select(
            "bucket",
            F.sum("n_inst").over(w).alias("cum_grams"),
            F.sum(F.coalesce("n_new", F.lit(0))).over(w).alias("cum_vocab"),
        )
    )
    pts = growth.select(
        "bucket", "cum_grams", "cum_vocab",
        F.log(F.col("cum_grams").cast("double")).alias("x"),
        F.log(F.col("cum_vocab").cast("double")).alias("y"),
    )
    agg = pts.agg(
        F.count("*").cast("double").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    slope, intercept, _r2 = _ols_cols(
        F.col("n"), F.col("sx"), F.col("sy"),
        F.col("sxy"), F.col("sxx"), F.col("syy"),
    )
    fit = agg.select(
        F.round(slope, 6).alias("heaps_beta"),
        F.round(F.exp(intercept), 6).alias("heaps_k"),
    )
    return (
        pts.select("bucket", "cum_grams", "cum_vocab")
        .crossJoin(F.broadcast(fit))
        .orderBy("bucket")
    )


_HEAPS_SQL = f"""
WITH mx AS (SELECT max(doc_id) AS mx FROM documents),
inst AS MATERIALIZED (
  SELECT CAST(floor(doc_id * {HEAPS_BUCKETS} / (mx + 1)) AS BIGINT) AS bucket, g
  FROM (
    SELECT doc_id, unnest(
             list_transform(range(0, len(toks) - {HEAPS_NGRAM} + 1),
                            i -> array_to_string(list_slice(toks, i + 1, i + {HEAPS_NGRAM}), ' '))
           ) AS g
    FROM (
      SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS toks
      FROM documents
    ) WHERE len(toks) >= {HEAPS_NGRAM}
  ), mx
),
per_bucket AS (SELECT bucket, count(*) AS n_inst FROM inst GROUP BY bucket),
new_vocab AS (
  SELECT bucket, count(*) AS n_new FROM (
    SELECT g, min(bucket) AS bucket FROM inst GROUP BY g
  ) GROUP BY bucket
),
growth AS (
  SELECT p.bucket,
         CAST(sum(p.n_inst) OVER (ORDER BY p.bucket) AS BIGINT) AS cum_grams,
         CAST(sum(coalesce(v.n_new, 0)) OVER (ORDER BY p.bucket) AS BIGINT)
           AS cum_vocab
  FROM per_bucket p LEFT JOIN new_vocab v USING (bucket)
),
pts AS (SELECT *, ln(CAST(cum_grams AS DOUBLE)) AS x,
               ln(CAST(cum_vocab AS DOUBLE)) AS y FROM growth),
agg AS (
  SELECT CAST(count(*) AS DOUBLE) AS n, sum(x) AS sx, sum(y) AS sy,
         sum(x * y) AS sxy, sum(x * x) AS sxx, sum(y * y) AS syy
  FROM pts
),
fit AS (
  SELECT round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS heaps_beta,
         round(exp((sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx) / n), 6)
           AS heaps_k
  FROM agg
)
SELECT bucket, cum_grams, cum_vocab, heaps_beta, heaps_k
FROM pts CROSS JOIN fit ORDER BY bucket
"""


CHUNK_TOKENS = 32
CHUNK_STRIDE = 24  # 8-token overlap between adjacent chunks


def q_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-data chunking: split each document into overlapping
    CHUNK_TOKENS-token windows at CHUNK_STRIDE (the standard
    pretraining context-window prep). Pure Catalyst — sequence +
    transform + posexplode, no Python; one narrow stage, nothing to
    shuffle. Emits (doc_id, chunk_id, n_tokens, chunk)."""
    d = documents(spark, sf_dir)
    toks = words(F.col("text"))
    n = F.size(toks)
    n_chunks = F.when(
        n <= CHUNK_TOKENS, F.lit(1)
    ).otherwise(
        F.ceil((n - F.lit(CHUNK_TOKENS)) / F.lit(CHUNK_STRIDE)).cast("int") + 1
    )
    chunks = F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda i: F.struct(
            F.array_join(
                F.slice(toks, i * CHUNK_STRIDE + 1, CHUNK_TOKENS), " "
            ).alias("chunk"),
            F.least(n - i * CHUNK_STRIDE, F.lit(CHUNK_TOKENS)).alias(
                "n_tokens"
            ),
        ),
    )
    return d.select(
        "doc_id", F.posexplode(chunks).alias("chunk_id", "c")
    ).select(
        "doc_id", "chunk_id", F.col("c.n_tokens").alias("n_tokens"),
        F.col("c.chunk").alias("chunk"),
    )


_CHUNK_SQL = f"""
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS tl
  FROM documents
), counted AS (
  SELECT doc_id, tl,
         CASE WHEN len(tl) <= {CHUNK_TOKENS} THEN 1
              ELSE CAST(ceil((len(tl) - {CHUNK_TOKENS}) / {CHUNK_STRIDE}.0) AS INT) + 1
         END AS n_chunks
  FROM toks
)
SELECT doc_id, i AS chunk_id,
       least(len(tl) - i * {CHUNK_STRIDE}, {CHUNK_TOKENS}) AS n_tokens,
       array_to_string(
         list_slice(tl, i * {CHUNK_STRIDE} + 1,
                    i * {CHUNK_STRIDE} + {CHUNK_TOKENS}), ' ') AS chunk
FROM counted, LATERAL (SELECT unnest(range(0, n_chunks)) AS i)
"""


SAMPLE_BUCKETS = 100
SAMPLE_KEEP = 7  # keep ~7%


def q_deterministic_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reproducible corpus sampling: keep a doc iff
    md5(doc_id)-prefix % 100 < K — stable across runs, engines,
    partition layouts, and cluster sizes (unlike TABLESAMPLE /
    rand(seed), which are partition-layout-dependent). The standard
    way to carve held-out slices from a 10^12-doc corpus so reruns and
    downstream joins see the identical sample."""
    d = documents(spark, sf_dir)
    bucket = (
        F.conv(
            F.substring(F.md5(F.col("doc_id").cast("string")), 1, 6), 16, 10
        ).cast("bigint")
        % SAMPLE_BUCKETS
    )
    return (
        d.where(bucket < SAMPLE_KEEP)
        .select("doc_id", bucket.cast("int").alias("bucket"), "source")
        .orderBy("doc_id")
    )


_SAMPLE_SQL = f"""
SELECT doc_id, CAST(bucket AS INT) AS bucket, source
FROM (
  SELECT doc_id, source,
         CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 6)) AS BIGINT)
           % {SAMPLE_BUCKETS} AS bucket
  FROM documents
)
WHERE bucket < {SAMPLE_KEEP}
ORDER BY doc_id
"""


_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_PHONE_RE = r"(?:\+?\d[\d \-]{7,}\d)"


def redact_pii(text: Column) -> Column:
    """PII scrubbing: emails then long digit-runs/phones → typed
    placeholder tokens. Native regexp_replace (codegen, no Python)."""
    no_email = F.regexp_replace(text, _EMAIL_RE, "<EMAIL>")
    return F.regexp_replace(no_email, _PHONE_RE, "<PHONE>")


def q_redact_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction over text with deterministically injected
    emails/phones (testdata is PII-free word soup)."""
    d = documents(spark, sf_dir)
    probe = F.concat(
        F.col("text"),
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(
                F.lit(" contact user"),
                (F.col("doc_id") % 50).cast("string"),
                F.lit("@example.org ou +212 612-345-678"),
            ),
        ).when(
            F.col("doc_id") % 3 == 1, F.lit(" tel: 0522 33 44 55 fixe")
        ).otherwise(F.lit("")),
    )
    return d.select("doc_id", redact_pii(probe).alias("clean"))


_REDACT_SQL = f"""
SELECT doc_id,
       regexp_replace(
         regexp_replace(probe, '{_EMAIL_RE}', '<EMAIL>', 'g'),
         '{_PHONE_RE}', '<PHONE>', 'g') AS clean
FROM (
  SELECT doc_id,
         text || CASE
           WHEN doc_id % 3 = 0 THEN ' contact user' || CAST(doc_id % 50 AS VARCHAR)
                                     || '@example.org ou +212 612-345-678'
           WHEN doc_id % 3 = 1 THEN ' tel: 0522 33 44 55 fixe'
           ELSE ''
         END AS probe
  FROM documents
)
"""


# --- sequence packing (pretraining batch prep) ------------------------------

SEQ_LEN = 256


def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pack documents into fixed-budget training sequences: within
    each source shard, documents (in doc_id order) are assigned to
    pack pack_id = floor(preceding-token-count / SEQ_LEN) — the
    standard approximate greedy packing for pretraining batches.

    Scale shape: the running sum windows PER SOURCE (the shard key),
    so there is no global sort — one hash exchange on source, and each
    shard packs independently; at 10^12 docs the shard key is
    (source, shard_id) and the pack namespace is per-shard, identical
    plan. Output is the per-pack summary (fill level / doc fan-in)."""
    from pyspark.sql.window import Window

    d = documents(spark, sf_dir)
    w = Window.partitionBy("source").orderBy("doc_id")
    toks = d.select(
        "source", "doc_id", token_count(F.col("text")).alias("n_tokens")
    )
    packed = toks.withColumn(
        "pack_id",
        F.floor(
            (F.sum("n_tokens").over(w) - F.col("n_tokens")) / F.lit(SEQ_LEN)
        ),
    )
    return (
        packed.groupBy("source", "pack_id")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").alias("pack_tokens"),
        )
        .orderBy("source", "pack_id")
    )


_PACK_SQL = f"""
WITH toks AS (
  SELECT source, doc_id,
         CASE WHEN length(trim(text)) = 0 THEN 0
              ELSE length(regexp_split_to_array(trim(text), '\\s+')) END AS n_tokens
  FROM documents
),
packed AS (
  SELECT source, doc_id, n_tokens,
         CAST(floor(
           (sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id) - n_tokens)
           / {SEQ_LEN}.0) AS BIGINT) AS pack_id
  FROM toks
)
SELECT source, pack_id, count(*) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS pack_tokens
FROM packed GROUP BY source, pack_id ORDER BY source, pack_id
"""


# --- packing efficiency report ------------------------------------------------

PACK_SWEEP = (64, 128, 256)  # candidate sequence budgets


def q_pack_efficiency_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-budget TUNING TABLE for the packing stage: for each
    candidate budget L, the corpus-wide pack count plus the two waste
    terms the trainer cares about — OVERFLOW tokens (a doc straddles
    the quota boundary and the pack exceeds L: truncated or spilled
    at train time) and UNDERFILL tokens (pack shorter than L: padding
    burned). Together they price each L; q_pack_sequences packs at
    the chosen one. Same tuning-table family as the IVF recall curve
    and the LSH banding sweep.

    Scale shape: the source-partitioned running sum is computed ONCE
    (it is L-independent); the three budgets are projections over the
    same windowed frame — one keyed exchange total, and all waste
    terms are exact integers."""
    from pyspark.sql.window import Window

    d = documents(spark, sf_dir)
    w = Window.partitionBy("source").orderBy("doc_id")
    toks = d.select(
        "source", "doc_id", token_count(F.col("text")).alias("n_tokens")
    )
    cum = toks.withColumn(
        "prev", F.sum("n_tokens").over(w) - F.col("n_tokens")
    )
    frames = []
    for L in PACK_SWEEP:
        packs = (
            cum.select(
                F.lit(L).alias("seq_len"),
                "source",
                F.floor(F.col("prev") / F.lit(L)).alias("pack_id"),
                "n_tokens",
            )
            .groupBy("seq_len", "source", "pack_id")
            .agg(F.sum("n_tokens").alias("pack_tokens"))
        )
        frames.append(packs)
    all_packs = frames[0]
    for fr in frames[1:]:
        all_packs = all_packs.unionByName(fr)
    return (
        all_packs.groupBy("seq_len")
        .agg(
            F.count("*").cast("long").alias("n_packs"),
            F.sum("pack_tokens").cast("long").alias("total_tokens"),
            F.sum(
                F.greatest(F.col("pack_tokens") - F.col("seq_len"), F.lit(0))
            )
            .cast("long")
            .alias("overflow_tokens"),
            F.sum(
                F.greatest(F.col("seq_len") - F.col("pack_tokens"), F.lit(0))
            )
            .cast("long")
            .alias("underfill_tokens"),
        )
        .orderBy("seq_len")
    )


def _pack_efficiency_sql() -> str:
    per_l = " UNION ALL ".join(
        f"""
  SELECT {L} AS seq_len, source,
         CAST(floor(prev / {L}.0) AS BIGINT) AS pack_id,
         n_tokens
  FROM cum"""
        for L in PACK_SWEEP
    )
    return f"""
WITH toks AS (
  SELECT source, doc_id,
         CASE WHEN length(trim(text)) = 0 THEN 0
              ELSE length(regexp_split_to_array(trim(text), '\\s+')) END AS n_tokens
  FROM documents
),
cum AS (
  SELECT source, doc_id, n_tokens,
         sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id) - n_tokens
           AS prev
  FROM toks
),
assigned AS ({per_l}),
packs AS (
  SELECT seq_len, source, pack_id, sum(n_tokens) AS pack_tokens
  FROM assigned GROUP BY seq_len, source, pack_id
)
SELECT seq_len,
       count(*) AS n_packs,
       CAST(sum(pack_tokens) AS BIGINT) AS total_tokens,
       CAST(sum(greatest(pack_tokens - seq_len, 0)) AS BIGINT)
         AS overflow_tokens,
       CAST(sum(greatest(seq_len - pack_tokens, 0)) AS BIGINT)
         AS underfill_tokens
FROM packs
GROUP BY seq_len
ORDER BY seq_len
"""


# --- stratified per-source sampling ------------------------------------------

STRATUM_K = 5


def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic k-per-stratum sample: the STRATUM_K docs with the
    smallest md5(doc_id) within each source — uniform pseudo-random,
    engine/layout-stable (the per-group analogue of the md5-bucket
    corpus sample). One hash exchange on source; rank + filter."""
    from pyspark.sql.window import Window

    d = documents(spark, sf_dir)
    w = Window.partitionBy("source").orderBy(
        F.md5(F.col("doc_id").cast("string"))
    )
    return (
        d.select("source", "doc_id", F.row_number().over(w).alias("rk"))
        .where(F.col("rk") <= STRATUM_K)
        .orderBy("source", "rk")
    )


_STRATIFIED_SQL = f"""
SELECT source, doc_id, rk FROM (
  SELECT source, doc_id,
         CAST(row_number() OVER (
           PARTITION BY source ORDER BY md5(CAST(doc_id AS VARCHAR))
         ) AS INT) AS rk
  FROM documents
) WHERE rk <= {STRATUM_K}
ORDER BY source, rk
"""


# --- unigram-LM quality score (CCNet-style) ----------------------------------


def q_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-model quality proxy: per-document mean negative log
    unigram probability, with the unigram model estimated from the
    corpus itself (CCNet uses a KenLM over a reference corpus; the
    one-pass unigram variant is the distributable first approximation).
    Low NLL ⇒ typical text; high NLL ⇒ rare-token soup.

    Plan: explode → vocab aggregate → token⋈vocab join → per-doc avg.
    At 100 TB the vocab fits in a broadcast after a frequency cut
    (top-1M words + an OOV floor); here the full vocab joins on the
    8-byte word hash. No driver-side scalars: the corpus total rides
    along via a 1-row broadcast cross join."""
    d = documents(spark, sf_dir)
    toks = d.select(
        "doc_id",
        F.explode(words(F.lower(F.col("text")))).alias("w"),
    ).where(F.length("w") > 0)
    vocab = toks.groupBy("w").agg(F.count("*").alias("cnt"))
    total = vocab.agg(F.sum("cnt").alias("total"))
    scored = (
        toks.join(vocab, "w")
        .crossJoin(F.broadcast(total))
        .select(
            "doc_id",
            (-F.log(F.col("cnt") / F.col("total"))).alias("nll"),
        )
    )
    return (
        scored.groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.round(F.avg("nll"), 6).alias("mean_nll"),
        )
        .orderBy("doc_id")
    )


_UNIGRAM_SQL = """
WITH toks AS (
  SELECT doc_id, w FROM (
    SELECT doc_id,
           unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS w
    FROM documents
  ) WHERE length(w) > 0
),
vocab AS (SELECT w, count(*) AS cnt FROM toks GROUP BY w),
total AS (SELECT CAST(sum(cnt) AS BIGINT) AS total FROM vocab)
SELECT doc_id, count(*) AS n_tokens,
       round(avg(-ln(CAST(cnt AS DOUBLE) / total)), 6) AS mean_nll
FROM toks JOIN vocab USING (w) CROSS JOIN total
GROUP BY doc_id ORDER BY doc_id
"""


def q_quality_curriculum_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum binning: per SOURCE, split documents into quality
    deciles (ntile over quality desc, doc_id tie-break — fully
    deterministic) and report each (source, decile) cell's size and
    quality range — the partitioning a curriculum/annealing data
    schedule consumes ("feed decile 1-3 late in training"). One
    window + one aggregation, both on the same (source) partitioning
    — a single exchange."""
    from pyspark.sql.window import Window

    d = documents(spark, sf_dir)
    scored = d.select(
        "doc_id", "source",
        F.round(quality_score(F.col("text")), 6).alias("q"),
    )
    w = Window.partitionBy("source").orderBy(F.desc("q"), F.asc("doc_id"))
    return (
        scored.withColumn("decile", F.ntile(10).over(w))
        .groupBy("source", "decile")
        .agg(
            F.count("*").alias("n_docs"),
            F.min("q").alias("min_q"),
            F.max("q").alias("max_q"),
        )
        .orderBy("source", "decile")
    )


_CURRICULUM_SQL = f"""
WITH scored AS (
  SELECT doc_id, source,
         round(
           (CASE WHEN n_tokens BETWEEN 10 AND 5000 THEN 0.5::DOUBLE ELSE 0.0::DOUBLE END)
         + (CASE WHEN punct_ratio < 0.2 THEN 0.25::DOUBLE ELSE 0.0::DOUBLE END)
         + (CASE WHEN stop_ratio > 0.01 THEN 0.25::DOUBLE ELSE 0.0::DOUBLE END), 6) AS q
  FROM (
    SELECT doc_id, source,
           CASE WHEN length(trim(text)) = 0 THEN 0
                ELSE length(regexp_split_to_array(trim(text), '\\s+')) END AS n_tokens,
           CAST(length(text) - length(regexp_replace(text, '[^\\p{{L}}\\p{{N}}\\s]', '', 'g')) AS DOUBLE)
             / length(text) AS punct_ratio,
           CAST(length(list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'),
                                   w -> list_contains({list(STOPWORDS)!r}, w))) AS DOUBLE)
             / length(regexp_split_to_array(lower(trim(text)), '\\s+')) AS stop_ratio
    FROM documents
  )
)
SELECT source, CAST(decile AS INT) AS decile, count(*) AS n_docs,
       min(q) AS min_q, max(q) AS max_q
FROM (
  SELECT source, q,
         ntile(10) OVER (PARTITION BY source ORDER BY q DESC, doc_id) AS decile
  FROM scored
)
GROUP BY source, decile ORDER BY source, decile
"""


BIGRAM_K = 0.1  # add-k smoothing mass


def q_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram-LM quality score: per-document mean negative log
    P(w_i | w_{i-1}) under an add-k-smoothed bigram model estimated
    from the corpus — one context step closer to CCNet's KenLM than
    the unigram proxy (q_unigram_logprob), still one distributable
    pass: p = (c(w1 w2) + k) / (c(w1) + k·V).

    Plan: consecutive-pair explode (zip of the token array with its
    shift — narrow, no self-join), bigram-count aggregate, pair join
    on the bigram key, context-count join on w1, V via a 1-row
    broadcast. Same float-portability discipline as the unigram
    query: one final avg rounded to 6.

    r6: V is derived from the aggregates' key sets (set(w1) = c1's
    keys, set(w2) = c2's distinct w2) instead of a corpus-wide
    union+distinct — identical value by construction, but the input
    is the tiny model table instead of a 4th full pass over the
    bigram stream (guide §1.2: don't compute things twice). An
    explicit localCheckpoint of the stream was tried and REVERTED:
    its eager barrier cost as much as the recomputes it saved (A/B
    at 10x-sf0.1, three alternating draws each)."""
    d = documents(spark, sf_dir)
    toks = words(F.lower(F.col("text")))
    pairs = F.zip_with(
        F.slice(toks, 1, F.greatest(F.size(toks) - 1, F.lit(0))),
        F.slice(toks, 2, F.greatest(F.size(toks) - 1, F.lit(0))),
        lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
    )
    bg = (
        d.where(F.size(toks) >= 2)
        .select("doc_id", F.explode(pairs).alias("p"))
        .select("doc_id", F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
        .where((F.length("w1") > 0) & (F.length("w2") > 0))
    )
    c2 = bg.groupBy("w1", "w2").agg(F.count("*").alias("c2"))
    c1 = bg.groupBy("w1").agg(F.count("*").alias("c1"))
    vocab_n = (
        c2.select(F.col("w2").alias("w"))
        .union(c1.select(F.col("w1").alias("w")))
        .distinct()
        .agg(F.count("*").alias("v"))
    )
    nll = -F.log(
        (F.col("c2") + F.lit(BIGRAM_K))
        / (F.col("c1") + F.lit(BIGRAM_K) * F.col("v"))
    )
    return (
        bg.join(c2, ["w1", "w2"])
        .join(c1, "w1")
        .crossJoin(F.broadcast(vocab_n))
        .select("doc_id", nll.alias("nll"))
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_bigrams"),
            F.round(F.avg("nll"), 6).alias("mean_nll"),
        )
        .orderBy("doc_id")
    )


_BIGRAM_SQL = f"""
WITH base AS (
  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS toks
  FROM documents
),
bg AS (
  SELECT doc_id, toks[i] AS w1, toks[i + 1] AS w2
  FROM base, LATERAL (SELECT unnest(range(1, len(toks))) AS i)
  WHERE len(toks) >= 2 AND length(toks[i]) > 0 AND length(toks[i + 1]) > 0
),
c2 AS (SELECT w1, w2, count(*) AS c2 FROM bg GROUP BY w1, w2),
c1 AS (SELECT w1, count(*) AS c1 FROM bg GROUP BY w1),
vocab_n AS (
  SELECT count(*) AS v FROM (
    SELECT w2 AS w FROM bg UNION SELECT w1 AS w FROM bg
  )
)
SELECT doc_id, count(*) AS n_bigrams,
       round(avg(-ln((c2 + {BIGRAM_K}) / (c1 + {BIGRAM_K} * v))), 6) AS mean_nll
FROM bg JOIN c2 USING (w1, w2) JOIN c1 USING (w1) CROSS JOIN vocab_n
GROUP BY doc_id ORDER BY doc_id
"""


# --- corpus length histogram -------------------------------------------------


def q_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source document-length histogram (100-char buckets) — the
    standard corpus-quality dashboard input. One scan, one partial/
    final hash aggregate; bucket arithmetic is scan-side codegen."""
    d = documents(spark, sf_dir)
    bucket = (F.floor(F.col("n_chars") / 100) * 100).cast("long")
    return (
        d.groupBy("source", bucket.alias("len_bucket"))
        .agg(F.count("*").alias("n_docs"))
        .orderBy("source", "len_bucket")
    )


_LENGTH_HIST_SQL = """
SELECT source,
       CAST(floor(n_chars / 100) * 100 AS BIGINT) AS len_bucket,
       count(*) AS n_docs
FROM documents
GROUP BY source, len_bucket
ORDER BY source, len_bucket
"""


# --- TF-IDF keywords --------------------------------------------------------

TFIDF_TOP_K = 3


def q_tfidf_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 TF-IDF keywords per document (raw-count tf × ln(N/df),
    stopworded, len>2): the standard document-keyword / topic-drift
    signal for corpus curation.

    Scale shape: one token explode feeds BOTH the per-doc tf
    aggregation and the document-frequency aggregation (cached here;
    a checkpoint table at 100 TB, as with the jaccard index); idf
    joins on the token like the unigram-LM vocab (frequency-cut +
    broadcast at scale); N rides along as a 1-row broadcast. Top-k is
    a rank window over the per-doc partitioning the tf aggregation
    already produced."""
    from pyspark.sql.window import Window

    d = documents(spark, sf_dir)
    toks = d.select(
        "doc_id",
        F.explode(words(F.lower(F.col("text")))).alias("w"),
    ).where((F.length("w") > 2) & ~F.col("w").isin(*STOPWORDS)).cache()
    tf = toks.groupBy("doc_id", "w").agg(F.count("*").alias("tf"))
    df_ = toks.select("doc_id", "w").distinct().groupBy("w").agg(
        F.count("*").alias("df")
    )
    n_docs = d.agg(F.count("*").alias("n_docs"))
    scored = (
        tf.join(df_, "w")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "doc_id", "w",
            F.round(
                F.col("tf") * F.log(F.col("n_docs") / F.col("df")), 6
            ).alias("tfidf"),
        )
    )
    rk = F.row_number().over(
        Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), "w")
    )
    return (
        scored.withColumn("rk", rk)
        .where(F.col("rk") <= TFIDF_TOP_K)
        .select("doc_id", F.col("rk").alias("rank"), "w", "tfidf")
        .orderBy("doc_id", "rank")
    )


_TFIDF_SQL = f"""
WITH toks AS (
  SELECT doc_id, w FROM (
    SELECT doc_id,
           unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS w
    FROM documents
  ) WHERE length(w) > 2 AND NOT list_contains({list(STOPWORDS)!r}, w)
),
tf AS (SELECT doc_id, w, count(*) AS tf FROM toks GROUP BY doc_id, w),
df AS (SELECT w, count(*) AS df FROM (SELECT DISTINCT doc_id, w FROM toks) GROUP BY w),
n AS (SELECT count(*) AS n_docs FROM documents),
scored AS (
  SELECT doc_id, w,
         round(tf * ln(CAST(n_docs AS DOUBLE) / df), 6) AS tfidf
  FROM tf JOIN df USING (w) CROSS JOIN n
),
ranked AS (
  SELECT doc_id, w, tfidf,
         row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, w) AS rank
  FROM scored
)
SELECT doc_id, rank, w, tfidf FROM ranked WHERE rank <= {TFIDF_TOP_K}
ORDER BY doc_id, rank
"""


# --- BPE-ish regex tokenization --------------------------------------------

# GPT-2-style pretokenizer, minus the \s+(?!\S) lookahead (RE2 — the
# DuckDB oracle's engine — has no lookahead) and with an explicit
# Latin-1 letter class instead of \p{L} (engine-portable, per the
# round-1 funnel-hash lesson): contractions | optional-space letters |
# optional-space digits | optional-space punctuation run.
BPE_RE = r"'(?:s|t|re|ve|m|ll|d)| ?[A-Za-zÀ-ÿ]+| ?[0-9]+| ?[^A-Za-z0-9À-ÿ\s]+"


def bpe_token_count(text: Column) -> Column:
    """Pretokenizer-granularity token count — the unit LLM budgets are
    denominated in (whitespace tokens undercount punctuation/digit
    splits by ~20-40%). Native regexp_extract_all: JVM-side, codegen."""
    return F.size(F.regexp_extract_all(text, F.lit(BPE_RE), F.lit(0)))


def q_bpe_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace vs BPE-ish token counts per doc + the fertility
    ratio (pretokens per whitespace word) used to spot tokenizer-
    hostile text (code, tables, degenerate punctuation)."""
    d = documents(spark, sf_dir)
    n_ws = token_count(F.col("text"))
    n_bpe = bpe_token_count(F.col("text"))
    return d.select(
        "doc_id",
        n_ws.alias("n_ws_tokens"),
        n_bpe.alias("n_bpe_tokens"),
        F.when(n_ws == 0, F.lit(None)).otherwise(
            F.round(n_bpe.cast("double") / n_ws, 6)
        ).alias("fertility"),
    )


_BPE_SQL = f"""
SELECT doc_id,
       n_ws_tokens,
       n_bpe_tokens,
       CASE WHEN n_ws_tokens = 0 THEN NULL
            ELSE round(CAST(n_bpe_tokens AS DOUBLE) / n_ws_tokens, 6)
       END AS fertility
FROM (
  SELECT doc_id,
         CASE WHEN length(trim(text)) = 0 THEN 0
              ELSE length(regexp_split_to_array(trim(text), '\\s+')) END AS n_ws_tokens,
         length(regexp_extract_all(text, '{BPE_RE.replace("'", "''")}')) AS n_bpe_tokens
  FROM documents
)
"""


# --- winnowing fingerprints (MOSS-style rolling k-gram selection) ----------

WINNOW_K = 8  # char k-gram length
WINNOW_W = 4  # winnowing window (hashes per window)
MAX_FP_DF = 64  # drop fingerprints shared by more docs (skew cut)


def _winnow_fps(d: DataFrame) -> DataFrame:
    """Per-doc winnowing fingerprint set (Schleimer/Wilkerson/Aiken,
    SIGMOD'03): hash every char k-gram of the normalized text, slide a
    window of W consecutive hashes, keep the minimum of each window.
    Guarantees any shared substring of >= W+K-1 chars yields a shared
    fingerprint, at expected density 2/(W+1) — a content-defined
    sample, unlike fixed-stride shingling.

    All-native Catalyst (sequence/transform/slice/array_min on md5
    strings): one narrow codegen stage per doc, no shuffle until the
    caller aggregates. md5-string min is engine-portable (same
    lexicographic order in DuckDB)."""
    norm = normalized_text(F.col("text"))
    base = d.select("doc_id", norm.alias("norm")).where(
        F.length("norm") >= WINNOW_K
    )
    hashes = F.expr(
        f"transform(sequence(1, length(norm) - {WINNOW_K} + 1),"
        f" i -> md5(substr(norm, i, {WINNOW_K})))"
    )
    wins = F.when(
        F.size(F.col("hs")) >= WINNOW_W,
        F.expr(
            f"transform(sequence(1, size(hs) - {WINNOW_W} + 1),"
            f" j -> array_min(slice(hs, j, {WINNOW_W})))"
        ),
    ).otherwise(F.array(F.array_min(F.col("hs"))))
    return base.select("doc_id", hashes.alias("hs")).select(
        "doc_id", F.explode(F.array_distinct(wins)).alias("fp")
    )


_WINNOW_FPS_SQL_BODY = f"""
  WITH n AS (
    SELECT doc_id, {NORMALIZED_TEXT_SQL} AS norm
    FROM documents
  ),
  g AS (
    SELECT doc_id,
           list_transform(generate_series(1, length(norm) - {WINNOW_K} + 1),
                          i -> md5(substr(norm, i, {WINNOW_K}))) AS hs
    FROM n WHERE length(norm) >= {WINNOW_K}
  ),
  w AS (
    SELECT doc_id,
           CASE WHEN len(hs) >= {WINNOW_W}
                THEN list_transform(generate_series(1, len(hs) - {WINNOW_W} + 1),
                                    j -> list_aggregate(hs[j:j+{WINNOW_W - 1}], 'min'))
                ELSE [list_aggregate(hs, 'min')]
           END AS wins
    FROM g
  )
  SELECT DISTINCT doc_id, fp
  FROM (SELECT doc_id, unnest(wins) AS fp FROM w)
"""


def q_winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact winnowing fingerprint rows for a deterministic 10% doc
    slice (doc_id % 10 = 0) — the slice bounds oracle-compare size;
    the full-corpus path is exercised by q_winnow_shared_pairs."""
    d = documents(spark, sf_dir).where(F.col("doc_id") % 10 == 0)
    return _winnow_fps(d).orderBy("doc_id", "fp")


_WINNOW_FPS_SQL = f"""
SELECT doc_id, fp FROM ({_WINNOW_FPS_SQL_BODY})
WHERE doc_id % 10 = 0 ORDER BY doc_id, fp
"""


def q_winnow_shared_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs by winnowing-fingerprint overlap coefficient
    shared/min(|A|,|B|) >= 0.5 (sizes counted after the DF cut, same
    on both engines), via inverted-index self-join (never all-pairs)
    with a document-frequency skew cut like q_ngram_jaccard_pairs.
    An absolute shared-count floor is NOT selective — common 8-char
    grams make unrelated docs share a handful of fingerprints — the
    normalized coefficient is. The pair-forming join keys on the
    128-bit md5 string itself: at 10^9+ fingerprints (100 TB) 64-bit
    birthday collisions are expected (~n^2/2^65 pairs) and would
    silently inflate shared counts, so the narrow key is reserved for
    BUCKETING only — to cut shuffle bytes at scale, repartition both
    sides by xxhash64(fp) while still joining on fp, which Spark's
    hash partitioning on the equality key already does here."""
    fps = _winnow_fps(documents(spark, sf_dir)).cache()
    rare = (
        fps.groupBy("fp")
        .agg(F.count("*").alias("df"))
        .where(F.col("df") <= MAX_FP_DF)
        .select("fp")
    )
    fr = fps.join(rare, "fp")
    sizes = fr.groupBy("doc_id").agg(F.count("*").alias("n"))
    a, b = fr.alias("a"), fr.alias("b")
    common = (
        a.join(b, (F.col("a.fp") == F.col("b.fp"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("da"), F.col("b.doc_id").alias("db"))
        .agg(F.count("*").alias("shared"))
    )
    sa = sizes.select(F.col("doc_id").alias("da"), F.col("n").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("db"), F.col("n").alias("nb"))
    ovl = F.col("shared") / F.least("na", "nb")
    return (
        common.join(sa, "da").join(sb, "db")
        .where(ovl >= 0.5)
        .select(
            F.col("da").alias("a"),
            F.col("db").alias("b"),
            F.col("shared"),
            F.round(ovl, 6).alias("overlap"),
        )
        .orderBy("a", "b")
    )


_WINNOW_PAIRS_SQL = f"""
WITH fps AS ({_WINNOW_FPS_SQL_BODY}),
rare AS (SELECT fp FROM fps GROUP BY fp HAVING count(*) <= {MAX_FP_DF}),
fr AS (SELECT fps.* FROM fps JOIN rare USING (fp)),
sizes AS (SELECT doc_id, count(*) AS n FROM fr GROUP BY doc_id),
common AS (
  SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS shared
  FROM fr a JOIN fr b ON a.fp = b.fp AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT da AS a, db AS b, shared,
       round(shared / CAST(least(sa.n, sb.n) AS DOUBLE), 6) AS overlap
FROM common
JOIN sizes sa ON sa.doc_id = da
JOIN sizes sb ON sb.doc_id = db
WHERE shared / CAST(least(sa.n, sb.n) AS DOUBLE) >= 0.5
ORDER BY a, b
"""




# --- BPE merge learning -------------------------------------------------------

BPE_LEARN_ROUNDS = 6  # merges to learn (Sennrich et al. learn 30k;
                      # the ROUND structure is what matters — see
                      # the scale note in q_bpe_learn_merges)
_BPE_SEP = "\x01"    # symbol delimiter inside the fold accumulator
                      # (never occurs in corpus tokens)


def q_bpe_learn_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE merge learning (Sennrich et al. 2016, "Neural Machine
    Translation of Rare Words with Subword Units") — the
    tokenizer-BUILD counterpart of q_bpe_token_stats's tokenizer-APPLY:
    start from the corpus word-frequency table with words as character
    sequences; each round counts adjacent symbol pairs weighted by
    word frequency, adopts the most frequent pair (ties broken
    lexicographically) as the next merge, and rewrites every word by
    the greedy left-to-right merge fold. Output: the learned merge
    table (merge_rank, l, r, pf).

    Engine portability: the greedy rewrite is a delimiter-string fold
    — append r to the accumulator iff it currently ends with the
    delimiter + l (so the previous SYMBOL is exactly l), else append
    delimiter + s. Pure string/integer ops, bit-identical in DuckDB's
    list_reduce (init emulated by list_prepend, the fnv1a64 pattern).

    Scale shape: the word-frequency agg collapses the corpus once
    (map-side partials) — every later round runs over the DISTINCT-
    WORD table, which is orders of magnitude smaller than the corpus;
    per round: ONE pair-count HashAggregate + TakeOrderedAndProject(1)
    + a 1-row broadcast back into a narrow rewrite projection. No
    collect — the adopted pair stays plan-side as a broadcast column,
    so the whole L-round loop is one lazy DAG (checkpoint every ~10
    rounds at real merge counts to cap plan depth; at 30k merges
    production moves the post-agg vocab table to a single partition
    anyway — it fits — while THIS shape keeps every round distributed
    and skew-free)."""
    vocab = _bpe_vocab(documents(spark, sf_dir)).select("syms", "freq")
    merges = []
    cur = vocab
    for k in range(BPE_LEARN_ROUNDS):
        best = _bpe_pair_counts(cur).orderBy(F.desc("pf"), "l", "r").limit(1)
        merges.append(
            best.select(F.lit(k + 1).alias("merge_rank"), "l", "r", "pf")
        )
        cur = _bpe_merge_round(cur, best, carry=["freq"])
    out = merges[0]
    for m in merges[1:]:
        out = out.unionAll(m)
    return out.orderBy("merge_rank")


def _bpe_vocab(d: DataFrame) -> DataFrame:
    """Corpus word-frequency table with words as char sequences."""
    return (
        d.select(
            F.explode(words(F.lower("text"))).alias("w")
        )
        .where(F.col("w") != "")
        .groupBy("w")
        .agg(F.count("*").alias("freq"))
        .select("w", F.split("w", "").alias("syms"), "freq")
    )


def _bpe_pair_counts(v: DataFrame) -> DataFrame:
    n = F.size("syms")
    z = F.zip_with(
        F.slice("syms", 1, F.greatest(n - 1, F.lit(0))),
        F.slice("syms", 2, F.greatest(n - 1, F.lit(0))),
        lambda a, b: F.struct(a.alias("l"), b.alias("r")),
    )
    return (
        v.select(F.explode(z).alias("p"), "freq")
        .groupBy("p.l", "p.r")
        .agg(F.sum("freq").alias("pf"))
    )


def _bpe_merge_round(
    cur: DataFrame, best: DataFrame, carry: list[str]
) -> DataFrame:
    """One greedy rewrite round: apply the broadcast 1-row best pair
    to every word's symbol sequence via the delimiter-string fold."""
    folded = F.aggregate(
        "syms",
        F.lit(""),
        lambda acc, s: F.when(
            acc.endswith(F.concat(F.lit(_BPE_SEP), F.col("l")))
            & (s == F.col("r")),
            F.concat(acc, s),
        ).otherwise(F.concat(acc, F.lit(_BPE_SEP), s)),
    )
    return cur.crossJoin(F.broadcast(best.select("l", "r"))).select(
        *carry,
        F.filter(F.split(folded, _BPE_SEP), lambda x: x != "").alias("syms"),
    )


def _bpe_learn_round_sql(k: int) -> str:
    return f"""
pairs{k} AS (
  SELECT p[1] AS l, p[2] AS r, CAST(sum(freq) AS BIGINT) AS pf
  FROM (
    SELECT unnest(list_zip(list_slice(syms, 1, len(syms)-1),
                           list_slice(syms, 2, len(syms)))) AS p, freq
    FROM vocab{k} WHERE len(syms) >= 2
  ) GROUP BY 1, 2
),
best{k} AS (SELECT {k + 1} AS merge_rank, l, r, pf FROM pairs{k}
            ORDER BY pf DESC, l, r LIMIT 1),
vocab{k + 1} AS (
  SELECT list_filter(string_split(
           list_reduce(list_prepend('', syms),
             (acc, s) -> CASE WHEN ends_with(acc, chr(1) || b.l) AND s = b.r
                         THEN acc || s ELSE acc || chr(1) || s END),
           chr(1)), x -> x != '') AS syms, freq
  FROM vocab{k}, best{k} b
)"""


def _bpe_learn_sql() -> str:
    rounds = ",".join(
        _bpe_learn_round_sql(k)[1:] for k in range(BPE_LEARN_ROUNDS)
    )
    union = " UNION ALL ".join(
        f"SELECT * FROM best{k}" for k in range(BPE_LEARN_ROUNDS)
    )
    return f"""
WITH vocab0 AS (
  SELECT string_split(w, '') AS syms, count(*) AS freq FROM (
    SELECT unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS w
    FROM documents
  ) WHERE w != '' GROUP BY w
),{rounds}
SELECT CAST(merge_rank AS INT) AS merge_rank, l, r, pf
FROM ({union}) ORDER BY merge_rank
"""


def q_bpe_apply_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer APPLY for the learned BPE merges — the encode side
    of q_bpe_learn_merges, and the per-document fertility metric
    (subword tokens per whitespace word) that tokenizer-vs-corpus
    fit is judged by (e.g. XLM-R's fertility tables).

    Shape: the merges are learned on the DISTINCT-WORD table exactly
    as in q_bpe_learn_merges, with the surface form `w` carried
    through the rewrite rounds, so after the last round the vocab
    table IS the encode map (w → subword count). Encoding the corpus
    is then word-explode + a BROADCAST join against that map + one
    per-doc count/sum aggregate — the corpus is never re-folded
    per-document, and nothing about the join side grows with corpus
    size (natural-language vocabularies plateau; at web scale the
    map is still a broadcast or at worst a bucketed dim table).

    fertility = n_subtok / n_words, one double division rounded to
    1e-6 — identical in both engines."""
    d = documents(spark, sf_dir)
    word_rows = (
        d.select("doc_id", F.explode(words(F.lower("text"))).alias("w"))
        .where(F.col("w") != "")
    )
    cur = _bpe_vocab(d)
    for _ in range(BPE_LEARN_ROUNDS):
        best = _bpe_pair_counts(cur).orderBy(F.desc("pf"), "l", "r").limit(1)
        cur = _bpe_merge_round(cur, best, carry=["w", "freq"])
    encode_map = cur.select("w", F.size("syms").alias("n_sub"))
    return (
        word_rows.join(F.broadcast(encode_map), "w")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_words"),
            F.sum("n_sub").alias("n_subtok"),
        )
        .select(
            "doc_id",
            "n_words",
            "n_subtok",
            F.round(
                F.col("n_subtok").cast("double") / F.col("n_words"), 6
            ).alias("fertility"),
        )
        .orderBy("doc_id")
    )


def _bpe_apply_round_sql(k: int) -> str:
    """Learn-round CTEs with the surface word threaded through, so
    the final vocab table doubles as the encode map."""
    return f"""
pairs{k} AS (
  SELECT p[1] AS l, p[2] AS r, CAST(sum(freq) AS BIGINT) AS pf
  FROM (
    SELECT unnest(list_zip(list_slice(syms, 1, len(syms)-1),
                           list_slice(syms, 2, len(syms)))) AS p, freq
    FROM vocab{k} WHERE len(syms) >= 2
  ) GROUP BY 1, 2
),
best{k} AS (SELECT l, r FROM pairs{k} ORDER BY pf DESC, l, r LIMIT 1),
vocab{k + 1} AS (
  SELECT w, list_filter(string_split(
           list_reduce(list_prepend('', syms),
             (acc, s) -> CASE WHEN ends_with(acc, chr(1) || b.l) AND s = b.r
                         THEN acc || s ELSE acc || chr(1) || s END),
           chr(1)), x -> x != '') AS syms, freq
  FROM vocab{k}, best{k} b
)"""


def _bpe_apply_sql() -> str:
    rounds = ",".join(
        _bpe_apply_round_sql(k)[1:] for k in range(BPE_LEARN_ROUNDS)
    )
    return f"""
WITH vocab0 AS (
  SELECT w, string_split(w, '') AS syms, count(*) AS freq FROM (
    SELECT unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS w
    FROM documents
  ) WHERE w != '' GROUP BY w
),{rounds},
encode_map AS (
  SELECT w, len(syms) AS n_sub FROM vocab{BPE_LEARN_ROUNDS}
),
words AS (
  SELECT doc_id, unnest(
    regexp_split_to_array(trim(lower(text)), '\\s+')) AS w
  FROM documents
)
SELECT doc_id,
       count(*) AS n_words,
       CAST(sum(n_sub) AS BIGINT) AS n_subtok,
       round(CAST(sum(n_sub) AS DOUBLE) / count(*), 6) AS fertility
FROM words JOIN encode_map USING (w)
WHERE w != ''
GROUP BY doc_id ORDER BY doc_id
"""




# --- character-entropy quality signal -----------------------------------------


def _entropy_chars() -> Column:
    """Non-whitespace lowercased character array of `text`."""
    return F.filter(
        F.split(F.regexp_replace(F.lower("text"), r"\s", ""), ""),
        lambda x: x != "",
    )


def _entropy_fold(chars: Column) -> Column:
    """One aggregate() pass over the SORTED char array: run-length
    state (prev char, run length) accumulating Σ count·ln(count) and
    the distinct count — returns struct(s, d). Shared by the entropy
    query and the quality-ensemble signal so they can never drift."""

    def step(acc: Column, c: Column) -> Column:
        run_term = F.when(
            acc["run"] > 0,
            acc["run"].cast("double") * F.log(acc["run"].cast("double")),
        ).otherwise(F.lit(0.0))
        return F.when(
            acc["prev"] == c,
            F.struct(
                acc["prev"].alias("prev"),
                (acc["run"] + F.lit(1).cast("long")).alias("run"),
                acc["s"].alias("s"),
                acc["d"].alias("d"),
            ),
        ).otherwise(
            F.struct(
                c.alias("prev"),
                F.lit(1).cast("long").alias("run"),
                (acc["s"] + run_term).alias("s"),
                (acc["d"] + F.lit(1).cast("long")).alias("d"),
            )
        )

    def finish(acc: Column) -> Column:
        run_term = F.when(
            acc["run"] > 0,
            acc["run"].cast("double") * F.log(acc["run"].cast("double")),
        ).otherwise(F.lit(0.0))
        return F.struct(
            (acc["s"] + run_term).alias("s"), acc["d"].alias("d")
        )

    zero = F.struct(
        F.lit("").alias("prev"),
        F.lit(0).cast("long").alias("run"),
        F.lit(0.0).alias("s"),
        F.lit(0).cast("long").alias("d"),
    )
    return F.aggregate(F.sort_array(chars), zero, step, finish)


def entropy_bits(chars: Column) -> Column:
    """Shannon bits/char of a char array (unrounded); NULL-safe only
    for nonempty arrays — callers filter/guard n > 0."""
    n = F.size(chars).cast("double")
    return (F.log(n) - _entropy_fold(chars)["s"] / n) / F.log(F.lit(2.0))


def q_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-level Shannon entropy per document (bits/char) —
    the classic gibberish/boilerplate screen: keyboard mash, base64
    blobs and repeated-char padding sit far from natural-language
    entropy (English ≈ 4.1 bits/char at the character level), so
    both tails get cut. Complements the word-level Gopher rules with
    a signal that needs no tokenizer at all.

    Shape: FULLY NARROW — chars are sorted per row and the per-char
    counts folded with one aggregate() pass (state: previous char,
    run length, Σ count·ln(count), distinct count), so the entropy
    H = (ln n − Σ c·ln c / n) / ln 2 is computed without exploding
    the corpus or shuffling anything; the only exchange in the plan
    is the presentation ORDER BY. Per-doc cost is O(len · log len)
    for the sort — independent of corpus size, embarrassingly
    parallel at 100 TB.

    Portability: the fold accumulates c·ln(c) in sorted-char order,
    the oracle sums per-group in arbitrary order — both are ≤100-term
    double sums whose reassociation error is ~1e-12, absorbed by the
    1e-6 round (the same contract as every logprob op here)."""
    d = documents(spark, sf_dir)
    chars = _entropy_chars()
    n = F.size(chars).cast("long")
    agg = _entropy_fold(chars)
    return (
        d.select("doc_id", n.alias("n_chars_nonws"), agg.alias("a"))
        .where(F.col("n_chars_nonws") > 0)
        .select(
            "doc_id",
            "n_chars_nonws",
            F.col("a.d").alias("n_distinct_chars"),
            F.round(
                (
                    F.log(F.col("n_chars_nonws").cast("double"))
                    - F.col("a.s") / F.col("n_chars_nonws")
                )
                / F.log(F.lit(2.0)),
                6,
            ).alias("entropy_bits"),
        )
        .orderBy("doc_id")
    )


_CHAR_ENTROPY_SQL = """
WITH chars AS (
  SELECT doc_id,
         unnest(list_filter(
           string_split(regexp_replace(lower(text), '\\s', '', 'g'), ''),
           x -> x != '')) AS c
  FROM documents
),
cnt AS (SELECT doc_id, c, count(*) AS k FROM chars GROUP BY doc_id, c),
agg AS (
  SELECT doc_id, CAST(sum(k) AS BIGINT) AS n,
         CAST(count(*) AS BIGINT) AS d,
         sum(k * ln(k)) AS s
  FROM cnt GROUP BY doc_id
)
SELECT doc_id, n AS n_chars_nonws, d AS n_distinct_chars,
       round((ln(n) - s / n) / ln(2), 6) AS entropy_bits
FROM agg WHERE n > 0 ORDER BY doc_id
"""


# --- Gopher quality-signal flags ---------------------------------------------

GOPHER_STOPS = ["the", "be", "to", "of", "and", "that", "have", "with"]
GOPHER_MIN_WORDS = 50
GOPHER_MAX_WORDS = 100_000


# --- multi-signal quality ensemble --------------------------------------------


def q_quality_ensemble(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-signal quality ensemble (the FineWeb-style composite:
    no single heuristic survives contact with a web crawl, so rank
    each signal into a percentile and average the percentiles):
    heuristic quality score (up), unigram repetition (down) and
    character entropy (up), each mid-rank-percentiled over the
    corpus, ensemble = mean of the three oriented percentiles.
    Percentiling makes the signals commensurable — raw scales and
    outliers stop mattering, exactly why ensembles rank-average.

    Scale shape: signals are ONE narrow codegen pass; each percentile
    is a per-value count aggregate + a cumulative window over the
    quantization-BOUNDED distinct-value frame (quarters / 3dp — the
    documented vocab-bounded window class) broadcast back as a
    value→pct map; the signal frame is cached because three maps and
    the final join branch off it. No global sort of the corpus.

    Portability: counts exact; pct = (below + ½·eq)/N is one double
    expression evaluated identically; the ensemble mean of three such
    terms is rounded to 1e-6."""
    d = documents(spark, sf_dir)
    chars = _entropy_chars()
    toks = words(F.lower(F.col("text")))
    n = F.size(toks)
    rep = F.when(
        n > 0,
        F.lit(1.0) - F.size(F.array_distinct(toks)) / n.cast("double"),
    ).otherwise(F.lit(0.0))
    ent = F.when(F.size(chars) > 0, entropy_bits(chars)).otherwise(F.lit(0.0))
    base = d.select(
        "doc_id",
        quality_score(F.col("text")).alias("q"),
        F.round(rep, 3).alias("rep"),
        F.round(ent, 3).alias("ent"),
    ).cache()
    # r6: the three per-signal percentile maps are built in ONE melted
    # pass — (doc, sig, val) rows → one (sig, val) count aggregate →
    # one cumulative window partitioned by sig (frames still bounded
    # by the quantized distinct-value tables) → one broadcast map —
    # instead of 3× (count agg + 1-partition window + full-pass total
    # + broadcast join). pct stays the identical expression
    # (below + ½·eq)/N with N = Σc per sig ≡ count(base); every
    # double op is unchanged, so values are bit-equal (oracle
    # hash-exact ×3 sfs). Guide §2.4: share one exchange.
    from pyspark.sql.window import Window

    melted = base.select(
        "doc_id",
        F.explode(
            F.array(
                F.struct(F.lit("q").alias("sig"), F.col("q").alias("val")),
                F.struct(F.lit("rep").alias("sig"), F.col("rep").alias("val")),
                F.struct(F.lit("ent").alias("sig"), F.col("ent").alias("val")),
            )
        ).alias("sv"),
    ).select("doc_id", F.col("sv.sig").alias("sig"), F.col("sv.val").alias("val"))
    cnt = melted.groupBy("sig", "val").agg(F.count("*").alias("c"))
    # bounded-window: frames are the per-signal distinct-value tables
    # (quantization bounds them: quarters / 3dp → ≤8001 values each)
    w = (
        Window.partitionBy("sig")
        .orderBy("val")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wn = Window.partitionBy("sig").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    pmap = cnt.select(
        "sig",
        "val",
        (
            ((F.sum("c").over(w) - F.col("c")) + 0.5 * F.col("c"))
            / F.sum("c").over(wn).cast("double")
        ).alias("pct"),
    )
    pivoted = (
        melted.join(F.broadcast(pmap), ["sig", "val"])
        .groupBy("doc_id")
        .agg(
            F.max(F.when(F.col("sig") == "q", F.col("val"))).alias("q"),
            F.max(F.when(F.col("sig") == "rep", F.col("val"))).alias("rep"),
            F.max(F.when(F.col("sig") == "ent", F.col("val"))).alias("ent"),
            F.max(F.when(F.col("sig") == "q", F.col("pct"))).alias("pct_q"),
            F.max(F.when(F.col("sig") == "rep", F.col("pct"))).alias("pct_rep"),
            F.max(F.when(F.col("sig") == "ent", F.col("pct"))).alias("pct_ent"),
        )
    )
    ens = (F.col("pct_q") + (1.0 - F.col("pct_rep")) + F.col("pct_ent")) / 3.0
    return (
        pivoted.select(
            "doc_id",
            "q",
            "rep",
            "ent",
            F.round("pct_q", 6).alias("pct_quality"),
            F.round(1.0 - F.col("pct_rep"), 6).alias("pct_low_rep"),
            F.round("pct_ent", 6).alias("pct_entropy"),
            F.round(ens, 6).alias("ensemble"),
        )
        .orderBy("doc_id")
    )


_ENSEMBLE_SQL = f"""
WITH sig AS MATERIALIZED (
  SELECT doc_id,
         (CASE WHEN n_tokens BETWEEN 10 AND 5000 THEN 0.5::DOUBLE ELSE 0.0::DOUBLE END)
       + (CASE WHEN punct_ratio < 0.2 THEN 0.25::DOUBLE ELSE 0.0::DOUBLE END)
       + (CASE WHEN stop_ratio > 0.01 THEN 0.25::DOUBLE ELSE 0.0::DOUBLE END) AS q,
         round(rep, 3) AS rep
  FROM (
    SELECT doc_id,
           CASE WHEN length(trim(text)) = 0 THEN 0
                ELSE length(regexp_split_to_array(trim(text), '\\s+')) END AS n_tokens,
           CAST(length(text) - length(regexp_replace(text, '[^\\p{{L}}\\p{{N}}\\s]', '', 'g')) AS DOUBLE)
             / length(text) AS punct_ratio,
           CAST(length(list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'),
                                   w -> list_contains({list(STOPWORDS)!r}, w))) AS DOUBLE)
             / length(regexp_split_to_array(lower(trim(text)), '\\s+')) AS stop_ratio,
           CASE WHEN len(toks) > 0
                THEN 1.0 - len(list_distinct(toks)) / CAST(len(toks) AS DOUBLE)
                ELSE 0.0 END AS rep
    FROM (SELECT doc_id, text,
                 regexp_split_to_array(trim(lower(text)), '\\s+') AS toks
          FROM documents)
  )
),
chars AS (
  SELECT doc_id,
         unnest(list_filter(
           string_split(regexp_replace(lower(text), '\\s', '', 'g'), ''),
           x -> x != '')) AS c
  FROM documents
),
ecnt AS (SELECT doc_id, c, count(*) AS k FROM chars GROUP BY doc_id, c),
eagg AS (
  SELECT doc_id, CAST(sum(k) AS BIGINT) AS n, sum(k * ln(k)) AS s
  FROM ecnt GROUP BY doc_id
),
base AS MATERIALIZED (
  SELECT sig.doc_id, sig.q, sig.rep,
         round(coalesce((ln(e.n) - e.s / e.n) / ln(2), 0.0), 3) AS ent
  FROM sig LEFT JOIN eagg e ON sig.doc_id = e.doc_id
),
tot AS (SELECT CAST(count(*) AS DOUBLE) AS nn FROM base),
mq AS (
  SELECT q, (below + 0.5 * c) / nn AS pct_q FROM (
    SELECT q, sum(c) OVER (ORDER BY q) - c AS below, c
    FROM (SELECT q, count(*) AS c FROM base GROUP BY q)
  ) CROSS JOIN tot
),
mr AS (
  SELECT rep, (below + 0.5 * c) / nn AS pct_rep FROM (
    SELECT rep, sum(c) OVER (ORDER BY rep) - c AS below, c
    FROM (SELECT rep, count(*) AS c FROM base GROUP BY rep)
  ) CROSS JOIN tot
),
me AS (
  SELECT ent, (below + 0.5 * c) / nn AS pct_ent FROM (
    SELECT ent, sum(c) OVER (ORDER BY ent) - c AS below, c
    FROM (SELECT ent, count(*) AS c FROM base GROUP BY ent)
  ) CROSS JOIN tot
)
SELECT b.doc_id, b.q, b.rep, b.ent,
       round(pct_q, 6) AS pct_quality,
       round(1.0 - pct_rep, 6) AS pct_low_rep,
       round(pct_ent, 6) AS pct_entropy,
       round((pct_q + (1.0 - pct_rep) + pct_ent) / 3.0, 6) AS ensemble
FROM base b JOIN mq USING (q) JOIN mr USING (rep) JOIN me USING (ent)
ORDER BY b.doc_id
"""


def q_gopher_quality_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher quality signals (Rae et al. 2021 §A1.1, the
    non-repetition half — repetition is q_gopher_repetition): word
    count in [50, 100k]; mean word length in [3, 10]; ≥80% of words
    contain an alphabetic character; at least two occurrences of the
    paper's eight English stop words (occurrence count, the
    datatrove/Dolma reading). All thresholds are the paper's.

    Every rational test is an integer CROSS-MULTIPLICATION
    (3·nw ≤ chars ≤ 10·nw; 5·n_alpha ≥ 4·nw) — no division, no float,
    bit-portable by construction. One narrow codegen pass, zero
    exchanges beyond the output sort."""
    d = documents(spark, sf_dir)
    toks = words(F.lower(F.col("text")))
    nw = F.size(toks)
    chars = F.aggregate(
        toks, F.lit(0).cast("long"), lambda a, t: a + F.length(t)
    )
    n_alpha = F.size(F.filter(toks, lambda t: t.rlike("[a-zA-Z]")))
    stops_lit = F.array(*[F.lit(w) for w in GOPHER_STOPS])
    n_stops = F.size(
        F.filter(toks, lambda t: F.array_contains(stops_lit, t))
    )
    out = d.where(F.length(F.trim(F.col("text"))) > 0).select(
        "doc_id",
        nw.alias("n_words"),
        ((nw >= GOPHER_MIN_WORDS) & (nw <= GOPHER_MAX_WORDS)).alias(
            "word_count_ok"
        ),
        ((chars >= 3 * nw) & (chars <= 10 * nw)).alias("mean_word_len_ok"),
        (5 * n_alpha >= 4 * nw).alias("alpha_word_ok"),
        (n_stops >= 2).alias("stop_word_ok"),
    )
    return out.withColumn(
        "keep",
        F.col("word_count_ok")
        & F.col("mean_word_len_ok")
        & F.col("alpha_word_ok")
        & F.col("stop_word_ok"),
    ).orderBy("doc_id")


_GOPHER_QUALITY_SQL = f"""
WITH t AS (
  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS toks
  FROM documents WHERE length(trim(text)) > 0
),
m AS (
  SELECT doc_id,
         len(toks) AS nw,
         CAST(list_sum(list_transform(toks, x -> length(x))) AS BIGINT)
           AS chars,
         len(list_filter(toks, x -> regexp_matches(x, '[a-zA-Z]')))
           AS n_alpha,
         len(list_filter(toks,
             x -> list_contains({GOPHER_STOPS!r}, x))) AS n_stops
  FROM t
)
SELECT doc_id, nw AS n_words,
       nw >= {GOPHER_MIN_WORDS} AND nw <= {GOPHER_MAX_WORDS}
         AS word_count_ok,
       chars >= 3 * nw AND chars <= 10 * nw AS mean_word_len_ok,
       5 * n_alpha >= 4 * nw AS alpha_word_ok,
       n_stops >= 2 AS stop_word_ok,
       (nw >= {GOPHER_MIN_WORDS} AND nw <= {GOPHER_MAX_WORDS})
         AND (chars >= 3 * nw AND chars <= 10 * nw)
         AND (5 * n_alpha >= 4 * nw)
         AND (n_stops >= 2) AS keep
FROM m ORDER BY doc_id
"""




# --- all-pairs TF-IDF cosine similarity join -----------------------------------

ALLPAIRS_TAU = 0.5   # cosine threshold for emitted pairs
ALLPAIRS_MAX_DF = 100  # inverted-index skew cut: words in more docs
                       # than this leave the index (their idf weight
                       # is negligible and their postings lists are
                       # exactly the quadratic blowup)


def q_allpairs_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All-pairs similarity search (Bayardo et al., WWW 2007): every
    document pair whose TF-IDF cosine meets ALLPAIRS_TAU — the
    real-valued companion to the set-based near-dup ops (n-gram
    Jaccard, winnowing): those catch copies; weighted cosine catches
    topical near-duplicates that share RARE vocabulary.

    Scale shape: candidate pairs come from an inverted-index
    self-join on words (never all-pairs), with the ngram-Jaccard
    skew cut — words with df > ALLPAIRS_MAX_DF leave the index,
    which is simultaneously the posting-list blowup guard and a
    weight-floor (their idf ≈ 0). Per-word partial dot products are
    map-side combinable into the per-pair sum. Bayardo's prefix
    filter is the literature refinement of the same index (sort
    features by weight, index only the prefix that can still reach
    τ); the df cut is its blunt, skew-proof first approximation.
    Cosines rounded to 6 and THEN thresholded in both engines, so no
    float boundary can disagree. The unit-vector postings frame is
    consumed twice by the self-join (Spark shares no subplans) — at
    production scale it is written once as the index table and both
    sides read it (the ngram-Jaccard cache→checkpoint-table swap)."""
    d = documents(spark, sf_dir)
    toks = d.select(
        "doc_id",
        F.explode(words(F.lower(F.col("text")))).alias("w"),
    ).where(F.length("w") > 0)
    tf = toks.groupBy("doc_id", "w").agg(F.count("*").alias("tf"))
    df = tf.groupBy("w").agg(F.count("*").alias("df"))
    n_docs = d.agg(F.count("*").alias("n"))
    wt = (
        tf.join(df.where(F.col("df") <= ALLPAIRS_MAX_DF), "w")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "doc_id", "w",
            (F.col("tf") * F.log(F.col("n") / F.col("df"))).alias("wt"),
        )
    )
    norm = wt.groupBy("doc_id").agg(
        F.sqrt(F.sum(F.col("wt") * F.col("wt"))).alias("nrm")
    )
    u = wt.join(norm, "doc_id").select(
        "doc_id", "w", (F.col("wt") / F.col("nrm")).alias("u")
    )
    a = u.select(F.col("doc_id").alias("a"), "w", F.col("u").alias("ua"))
    b = u.select(F.col("doc_id").alias("b"), "w", F.col("u").alias("ub"))
    return (
        a.join(b, "w")
        .where(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.round(F.sum(F.col("ua") * F.col("ub")), 6).alias("cos"))
        .where(F.col("cos") >= ALLPAIRS_TAU)
        .orderBy("a", "b")
    )


_ALLPAIRS_SQL = f"""
WITH toks AS (
  SELECT doc_id, w FROM (
    SELECT doc_id,
           unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS w
    FROM documents
  ) WHERE length(w) > 0
),
tf AS (SELECT doc_id, w, count(*) AS tf FROM toks GROUP BY doc_id, w),
df AS (SELECT w, count(*) AS df FROM tf GROUP BY w
       HAVING count(*) <= {ALLPAIRS_MAX_DF}),
n_docs AS (SELECT count(*) AS n FROM documents),
wt AS (
  SELECT doc_id, w, tf * ln(CAST(n AS DOUBLE) / df) AS wt
  FROM tf JOIN df USING (w), n_docs
),
nrm AS (SELECT doc_id, sqrt(sum(wt * wt)) AS nrm FROM wt GROUP BY doc_id),
u AS (SELECT doc_id, w, wt / nrm AS u FROM wt JOIN nrm USING (doc_id))
SELECT x.doc_id AS a, y.doc_id AS b,
       round(sum(x.u * y.u), 6) AS cos
FROM u x JOIN u y ON x.w = y.w AND x.doc_id < y.doc_id
GROUP BY x.doc_id, y.doc_id
HAVING round(sum(x.u * y.u), 6) >= {ALLPAIRS_TAU}
ORDER BY a, b
"""


# --- Flesch-Kincaid readability ----------------------------------------------

# sentence synthesis: a period after every (doc_id % 4 + 6) tokens —
# the corpus soup is unpunctuated, so the boundary is injected
# identically on both engines; the SEGMENTER is the real path (regex
# count of '. ' boundaries + trailing sentence).


def q_readability_fk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch-Kincaid grade level per document (Kincaid et al. 1975:
    0.39·words/sentence + 11.8·syllables/word − 15.59) — the classic
    readability gate corpus-quality pipelines use alongside model
    scores. Syllables are the standard regex heuristic: vowel-group
    count per word, minimum 1.

    Exactness: words/syllables/sentences are exact integers; the
    grade is three IEEE double ops in a fixed order from the same
    integers, so it is bit-identical cross-engine before the final
    HALF_UP round.

    Scale shape: per-row projection — tokenize, one fold over the
    token array, two regex counts — fused in codegen; no shuffle
    before the presentation sort. Map-only at 100 TB."""
    d = documents(spark, sf_dir)
    toks = words(F.col("text"))
    k = (F.col("doc_id") % 4 + 6).cast("int")
    punct = F.array_join(
        F.transform(
            toks,
            lambda w, i: F.when((i + 1) % k == 0, F.concat(w, F.lit("."))).otherwise(w),
        ),
        " ",
    )
    n_words = F.size(toks)
    # the real segmenter: count '. ' boundaries, plus the trailing
    # sentence if the text doesn't end on a period
    n_sent = F.greatest(
        F.regexp_count(punct, F.lit(r"\. "))
        + F.when(punct.rlike(r"\.$"), 0).otherwise(1),
        F.lit(1),
    )
    n_syll = F.aggregate(
        toks,
        F.lit(0),
        lambda acc, w: acc
        + F.greatest(F.regexp_count(w, F.lit("[aeiouy]+")), F.lit(1)),
    )
    # floor-scaled integer grade: the three IEEE ops are bit-identical
    # cross-engine, and floor(x·10⁴) avoids the round()-on-double
    # boundary divergence (Spark BigDecimal HALF_UP vs DuckDB's
    # multiply-and-round differ for doubles near .00005 boundaries)
    grade_e4 = F.floor(
        (
            F.lit(0.39) * n_words / n_sent
            + F.lit(11.8) * n_syll / n_words
            - F.lit(15.59)
        )
        * 10000
    ).cast("long")
    return d.select(
        "doc_id",
        n_words.cast("int").alias("n_words"),
        n_sent.cast("int").alias("n_sentences"),
        n_syll.cast("int").alias("n_syllables"),
        grade_e4.alias("fk_grade_e4"),
    ).orderBy("doc_id")


_FK_SQL = f"""
WITH t AS (
  SELECT doc_id,
         regexp_split_to_array(trim(text), '\\s+') AS toks,
         CAST(doc_id % 4 + 6 AS INT) AS k
  FROM documents
),
p AS (
  SELECT doc_id,
         len(toks) AS n_words,
         array_to_string(list_transform(toks, (w, i) ->
           CASE WHEN i % k = 0 THEN w || '.' ELSE w END), ' ') AS punct,
         list_sum(list_transform(toks, w ->
           greatest(len(regexp_extract_all(w, '[aeiouy]+')), 1))) AS n_syll
  FROM t
)
SELECT doc_id,
       CAST(n_words AS INT) AS n_words,
       CAST(greatest(len(regexp_extract_all(punct, '\\. '))
            + CASE WHEN regexp_matches(punct, '\\.$') THEN 0 ELSE 1 END,
            1) AS INT) AS n_sentences,
       CAST(n_syll AS INT) AS n_syllables,
       -- literals cast to DOUBLE (DuckDB parses 0.39 as DECIMAL) and
       -- floor-scaled so both engines run the identical IEEE ops
       CAST(floor((CAST(0.39 AS DOUBLE) * n_words
               / greatest(len(regexp_extract_all(punct, '\\. '))
                 + CASE WHEN regexp_matches(punct, '\\.$') THEN 0 ELSE 1 END,
                 1)
             + CAST(11.8 AS DOUBLE) * n_syll / n_words
             - CAST(15.59 AS DOUBLE)) * 10000) AS BIGINT) AS fk_grade_e4
FROM p ORDER BY doc_id
"""


# --- CCNet head/middle/tail perplexity buckets -------------------------------


def q_ccnet_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet's defining move (Wenzek et al. 2020): split the corpus
    into HEAD / MIDDLE / TAIL tertiles by language-model perplexity
    and let downstream consumers pick their quality/quantity trade —
    head for high-quality pretraining, tail for filtering studies.
    Score = the bigram-LM mean NLL (q_bigram_logprob, the repo's
    KenLM stand-in); docs too short to have a bigram are dropped
    exactly as CCNet drops unscorable docs.

    Tertile cuts are RANK-based in pure integer arithmetic —
    bucket = ((rank − 1) · 3) div n over the total order
    (mean_nll asc, doc_id) — no percentile interpolation to diverge
    between engines. The rank is the distributed two-pass
    skew.global_rank, never a single-reducer window: at 10^12 docs
    the bucket assignment is exactly the TeraSort shape.

    Scale note: the LM scoring pass it inherits is the audited
    one-pass bigram plan; bucketing adds ONE range exchange + a 1-row
    n broadcast."""
    from ocr_intern_spark.operators.skew import global_rank

    base = q_bigram_logprob(spark, sf_dir)
    ranked = global_rank(
        base, F.asc("mean_nll"), F.asc("doc_id"), rank_name="rk"
    )
    # n from the PERSISTED rank frame, not from `base`: rk is a dense
    # 1..N numbering, so max(rk) == count(base), and deriving it off
    # global_rank's materialized intermediate keeps the expensive
    # bigram-LM scoring subtree to ONE execution (exchange reuse is an
    # optimization, not a guarantee — VERDICT r4 flagged the old
    # base.agg(count) branch as a potential 2× of the dominant pass).
    # Empty-corpus edge: ranked empty → n1 is ONE row with NULL max
    # (an aggregate without GROUP BY always emits a row); the result
    # is still 0 rows because the crossJoin's LEFT side (ranked) is
    # empty — do not rely on n1 being empty if joining it elsewhere
    # (ADVICE r5).
    n1 = ranked.agg(F.max("rk").alias("n"))
    bucket_idx = F.expr("((rk - 1) * 3) div n")
    return (
        ranked.crossJoin(F.broadcast(n1))
        .select(
            "doc_id",
            "n_bigrams",
            "mean_nll",
            F.element_at(
                F.array(F.lit("head"), F.lit("middle"), F.lit("tail")),
                (bucket_idx + 1).cast("int"),
            ).alias("bucket"),
        )
        .orderBy("doc_id")
    )


_CCNET_BUCKETS_SQL = f"""
WITH base AS (
  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS toks
  FROM documents
),
bg AS (
  SELECT doc_id, toks[i] AS w1, toks[i + 1] AS w2
  FROM base, LATERAL (SELECT unnest(range(1, len(toks))) AS i)
  WHERE len(toks) >= 2 AND length(toks[i]) > 0 AND length(toks[i + 1]) > 0
),
c2 AS (SELECT w1, w2, count(*) AS c2 FROM bg GROUP BY w1, w2),
c1 AS (SELECT w1, count(*) AS c1 FROM bg GROUP BY w1),
vocab_n AS (
  SELECT count(*) AS v FROM (
    SELECT w2 AS w FROM bg UNION SELECT w1 AS w FROM bg
  )
),
scored AS (
  SELECT doc_id, count(*) AS n_bigrams,
         round(avg(-ln((c2 + {BIGRAM_K}) / (c1 + {BIGRAM_K} * v))), 6)
           AS mean_nll
  FROM bg JOIN c2 USING (w1, w2) JOIN c1 USING (w1) CROSS JOIN vocab_n
  GROUP BY doc_id
),
ranked AS (
  SELECT doc_id, n_bigrams, mean_nll,
         row_number() OVER (ORDER BY mean_nll ASC, doc_id ASC) AS rk,
         count(*) OVER () AS n
  FROM scored
)
SELECT doc_id, n_bigrams, mean_nll,
       (['head', 'middle', 'tail'])[CAST(((rk - 1) * 3) // n AS INT) + 1]
         AS bucket
FROM ranked
ORDER BY doc_id
"""


# --- content-defined chunking (CDC) -------------------------------------------

CDC_MOD = 16      # expected chunk length in words (gear-hash cut rate)
CDC_CUT = 0       # boundary residue: cut after w when h(w) ≡ CDC_CUT


def q_cdc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunking at word grain (the rolling-hash cut
    rule behind dedup stores à la LBFS/restic, applied to text): a
    chunk boundary falls AFTER word i when the FNV-1a-64 of the
    2-word window (w_{i-1} ‖ ' ' ‖ w_i) ≡ CDC_CUT (mod CDC_MOD), so
    expected chunk length is CDC_MOD words and — unlike the
    fixed-size q_chunk_documents — inserting a word shifts only the
    chunk it lands in: every chunk whose window content is unchanged
    keeps its fingerprint, which is what makes chunk-grain dedup
    robust to prefix edits. (The window must roll over ≥2 words: the
    corpus wordlist is only ~31 types, and a 1-word cut rule fires on
    a fixed subset of types — or, as measured here, on none.) Output
    is the corpus chunk-dedup view: one row per distinct chunk
    fingerprint with occurrence/doc counts and the first holder.

    Scale shape: token explode is map-side; the boundary flag needs
    only lag(1) inside the per-doc window; chunk ids come from a
    PER-DOC running sum (window partitioned by doc_id — never a
    global frame); then two hash aggregates, (doc, chunk) → fp and
    fp → counts, both map-side combinable. The md5-of-joined-words
    chunk fingerprint never ships more than one chunk's words through
    a shuffle."""
    d = documents(spark, sf_dir).where(F.length(F.trim(F.col("text"))) > 0)
    chunks = cdc_doc_chunks(d)
    return (
        chunks.groupBy("fp")
        .agg(
            F.min("n_words").cast("long").alias("n_words"),
            F.count("*").cast("long").alias("n_occ"),
            F.countDistinct("doc_id").cast("long").alias("n_docs"),
            F.min("doc_id").cast("long").alias("first_doc"),
        )
        .orderBy("fp")
    )


def cdc_doc_chunks(d: DataFrame) -> DataFrame:
    """(doc_id, chunk_id, n_words, fp) rows for the CDC cut rule —
    shared by the chunk-dedup view and the shift-resilience
    certificate (which chunks the same docs twice)."""
    from ocr_intern_spark.functions.hashing import fnv1a64_spark
    from pyspark.sql.window import Window

    toks = d.select(
        "doc_id",
        F.posexplode(words(F.lower(F.col("text")))).alias("pos", "w"),
    )
    w_seq = Window.partitionBy("doc_id").orderBy("pos")
    pair = F.concat_ws(" ", F.lag("w").over(w_seq), F.col("w"))
    bnd = toks.withColumn(
        "_pair", F.when(F.lag("w").over(w_seq).isNotNull(), pair)
    ).withColumn(
        "_b",
        (
            F.expr(f"pmod({fnv1a64_spark('_pair')}, {CDC_MOD})") == CDC_CUT
        ).cast("long"),
    ).fillna({"_b": 0})
    w_doc = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    ch = bnd.select(
        "doc_id",
        "pos",
        "w",
        F.coalesce(F.sum("_b").over(w_doc), F.lit(0)).alias("chunk_id"),
    )
    return ch.groupBy("doc_id", "chunk_id").agg(
        F.count("*").alias("n_words"),
        F.md5(
            F.concat_ws(
                " ",
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "w"))),
                    lambda s: s["w"],
                ),
            )
        ).alias("fp"),
    )


def _cdc_sql() -> str:
    from ocr_intern_spark.functions.hashing import fnv1a64_duckdb

    h = fnv1a64_duckdb("_pair")
    return f"""
WITH base AS (
  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS toks
  FROM documents WHERE length(trim(text)) > 0
),
tok AS (
  SELECT doc_id, i AS pos, toks[i + 1] AS w
  FROM base, LATERAL (SELECT unnest(range(0, len(toks))) AS i)
),
paired AS (
  SELECT doc_id, pos, w,
         lag(w) OVER (PARTITION BY doc_id ORDER BY pos) || ' ' || w AS _pair
  FROM tok
),
bnd AS (
  SELECT doc_id, pos, w,
         CASE WHEN _pair IS NOT NULL
                   AND (({h}) % {CDC_MOD} + {CDC_MOD}) % {CDC_MOD} = {CDC_CUT}
              THEN 1 ELSE 0 END AS b
  FROM paired
),
ch AS (
  SELECT doc_id, pos, w,
         coalesce(sum(b) OVER (
             PARTITION BY doc_id ORDER BY pos
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
         ), 0) AS chunk_id
  FROM bnd
),
chunks AS (
  SELECT doc_id, chunk_id, count(*) AS n_words,
         md5(string_agg(w, ' ' ORDER BY pos)) AS fp
  FROM ch GROUP BY doc_id, chunk_id
)
SELECT fp, CAST(min(n_words) AS BIGINT) AS n_words,
       CAST(count(*) AS BIGINT) AS n_occ,
       CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
       CAST(min(doc_id) AS BIGINT) AS first_doc
FROM chunks GROUP BY fp ORDER BY fp
"""


# --- term burstiness (variance-to-mean dispersion) --------------------------


def q_term_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Term burstiness via the variance-to-mean dispersion index
    (Church & Gale's burstiness diagnostic): content words CLUMP
    (high dispersion — a doc about a topic repeats its terms) while
    function words spread uniformly (dispersion ≈ 1, the Poisson
    baseline). Per term over per-doc counts c_d (zero-filled across
    all N docs): D = Var/Mean = (N·Σc² − (Σc)²) / (N·Σc), kept as
    an exact rational — numerator/denominator digit strings plus a
    floor-ppm rendering (non-negative: N·Σc² ≥ (Σc)² by
    Cauchy-Schwarz, so plain DIV agrees). Zero-filling never
    materializes zero rows: Σc and Σc² over all docs equal the sums
    over PRESENT rows, and N rides a 1-row broadcast.

    Scale shape: one (term, doc) aggregate → one term aggregate
    (both map-side combinable) — two hash aggregations over the
    token stream, no windows, no joins beyond the 1-row N."""
    d = documents(spark, sf_dir)
    toks = d.select(
        "doc_id",
        F.explode(words(F.lower(F.col("text")))).alias("tok"),
    ).where(F.length("tok") > 0)
    per_doc = toks.groupBy("tok", "doc_id").agg(
        F.count(F.lit(1)).alias("c")
    )
    per_term = per_doc.groupBy("tok").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("c").alias("sc"),
        F.sum(F.col("c") * F.col("c")).alias("scc"),
    )
    n = d.agg(F.count(F.lit(1)).alias("n"))
    return (
        per_term.crossJoin(F.broadcast(n))
        .select(
            "tok",
            "n_docs",
            F.col("sc").alias("total_occ"),
            F.expr("CAST(n * scc - sc * sc AS STRING)").alias(
                "disp_num_str"
            ),
            F.expr("CAST(n * sc AS STRING)").alias("disp_den_str"),
            F.expr(
                "CAST((n * scc - sc * sc) * 1000000 DIV (n * sc) "
                "AS BIGINT)"
            ).alias("dispersion_ppm"),
        )
        .orderBy(F.desc("dispersion_ppm"), F.asc("tok"))
    )


_BURSTINESS_SQL = """
WITH toks AS (
  SELECT doc_id, t.t AS tok
  FROM documents,
       unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS t(t)
  WHERE length(t.t) > 0
),
per_doc AS (
  SELECT tok, doc_id, count(*) AS c FROM toks GROUP BY tok, doc_id
),
per_term AS (
  SELECT tok, count(*) AS n_docs, sum(c) AS sc, sum(c * c) AS scc
  FROM per_doc GROUP BY tok
),
n AS (SELECT count(*) AS n FROM documents)
SELECT tok,
       CAST(n_docs AS BIGINT) AS n_docs,
       CAST(sc AS BIGINT) AS total_occ,
       CAST(n.n * scc - sc * sc AS VARCHAR) AS disp_num_str,
       CAST(n.n * sc AS VARCHAR) AS disp_den_str,
       CAST((n.n * scc - sc * sc) * 1000000 // (n.n * sc)
            AS BIGINT) AS dispersion_ppm
FROM per_term, n
ORDER BY dispersion_ppm DESC, tok ASC
"""


CDC_SHIFT_PREFIX = "zshiftz"   # one-word prefix insert (the edit)
CDC_FIXED_W = 16               # fixed-size comparison: 16-word blocks


def q_cdc_shift_certificate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The shift-resilience LAW of content-defined chunking,
    measured as a certificate: insert ONE word at the front of every
    document, re-chunk, and report what fraction of each document's
    chunk fingerprints survive — for the CDC cut rule AND for
    fixed-size blocks of the same expected length. CDC survives the
    edit (only the chunk containing the insertion changes — the
    whole reason dedup stores use rolling-hash cuts), while the
    fixed-size grid shifts every block by one word and loses
    essentially everything. Both numbers come from the identical
    pipeline, so the output row pair IS the experimental proof of
    the design choice q_cdc_chunks narrates.

    Scale shape: the corpus is chunked twice per method (original +
    shifted — a constant ×2), fingerprint sets are (doc, fp) hash
    aggregates, and survival is one equi-join on (doc_id, fp); no
    windows beyond the per-doc chunkers'."""
    d = documents(spark, sf_dir).where(F.length(F.trim(F.col("text"))) > 0)
    shifted = d.select(
        "doc_id",
        F.concat(F.lit(CDC_SHIFT_PREFIX + " "), F.col("text")).alias("text"),
    )

    def fixed_fps(frame: DataFrame) -> DataFrame:
        toks = frame.select(
            "doc_id",
            F.posexplode(words(F.lower(F.col("text")))).alias("pos", "w"),
        )
        return (
            toks.groupBy(
                "doc_id", F.expr(f"pos DIV {CDC_FIXED_W}").alias("seg")
            )
            .agg(
                F.md5(
                    F.concat_ws(
                        " ",
                        F.expr(
                            "transform(array_sort(collect_list("
                            "struct(pos, w))), s -> s.w)"
                        ),
                    )
                ).alias("fp")
            )
            .select("doc_id", "fp")
            .distinct()
        )

    def cdc_fps(frame: DataFrame) -> DataFrame:
        return cdc_doc_chunks(frame).select("doc_id", "fp").distinct()

    def audit(base: DataFrame, shift: DataFrame, name: str) -> DataFrame:
        nb = base.groupBy().agg(
            F.count(F.lit(1)).alias("n_base"),
            F.countDistinct("doc_id").alias("n_docs"),
        )
        ns = shift.groupBy().agg(F.count(F.lit(1)).alias("n_shift"))
        sh = base.join(shift, ["doc_id", "fp"]).agg(
            F.count(F.lit(1)).alias("n_shared")
        )
        return (
            nb.crossJoin(F.broadcast(ns))
            .crossJoin(F.broadcast(sh))
            .select(
                F.lit(name).alias("method"),
                "n_docs",
                "n_base",
                "n_shift",
                "n_shared",
                F.expr(
                    "CAST(n_shared * 1000000 DIV n_base AS BIGINT)"
                ).alias("survival_ppm"),
            )
        )

    return (
        audit(cdc_fps(d), cdc_fps(shifted), "cdc")
        .unionAll(audit(fixed_fps(d), fixed_fps(shifted), "fixed"))
        .orderBy("method")
    )


def _cdc_shift_sql() -> str:
    from ocr_intern_spark.functions.hashing import fnv1a64_duckdb

    h = fnv1a64_duckdb("_pair")

    def cdc_fps(src: str, p: str) -> str:
        return f"""
{p}tok AS (
  SELECT doc_id, i AS pos, toks[i + 1] AS w
  FROM (SELECT doc_id,
               regexp_split_to_array(trim(lower(text)), '\\s+') AS toks
        FROM {src}),
       LATERAL (SELECT unnest(range(0, len(toks))) AS i)
),
{p}bnd AS (
  SELECT doc_id, pos, w,
         CASE WHEN _pair IS NOT NULL
                   AND (({h}) % {CDC_MOD} + {CDC_MOD}) % {CDC_MOD}
                       = {CDC_CUT}
              THEN 1 ELSE 0 END AS b
  FROM (SELECT doc_id, pos, w,
               lag(w) OVER (PARTITION BY doc_id ORDER BY pos)
                 || ' ' || w AS _pair
        FROM {p}tok)
),
{p}fps AS (
  SELECT DISTINCT doc_id,
         md5(string_agg(w, ' ' ORDER BY pos)) AS fp
  FROM (
    SELECT doc_id, pos, w,
           coalesce(sum(b) OVER (
               PARTITION BY doc_id ORDER BY pos
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
           ), 0) AS chunk_id
    FROM {p}bnd
  )
  GROUP BY doc_id, chunk_id
)"""

    def fixed_fps(src: str, p: str) -> str:
        return f"""
{p}fps AS (
  SELECT DISTINCT doc_id,
         md5(string_agg(w, ' ' ORDER BY pos)) AS fp
  FROM (
    SELECT doc_id, i AS pos, toks[i + 1] AS w,
           i // {CDC_FIXED_W} AS seg
    FROM (SELECT doc_id,
                 regexp_split_to_array(trim(lower(text)), '\\s+') AS toks
          FROM {src}),
         LATERAL (SELECT unnest(range(0, len(toks))) AS i)
  )
  GROUP BY doc_id, seg
)"""

    def audit(pb: str, ps: str, name: str) -> str:
        return f"""
SELECT '{name}' AS method,
       (SELECT count(DISTINCT doc_id) FROM {pb}fps) AS n_docs,
       (SELECT count(*) FROM {pb}fps) AS n_base,
       (SELECT count(*) FROM {ps}fps) AS n_shift,
       (SELECT count(*) FROM {pb}fps a JOIN {ps}fps b
        USING (doc_id, fp)) AS n_shared,
       CAST((SELECT count(*) FROM {pb}fps a JOIN {ps}fps b
             USING (doc_id, fp)) * 1000000
            // (SELECT count(*) FROM {pb}fps) AS BIGINT) AS survival_ppm"""

    return f"""
WITH docs0 AS (
  SELECT doc_id, text FROM documents WHERE length(trim(text)) > 0
),
docs1 AS (
  SELECT doc_id, '{CDC_SHIFT_PREFIX} ' || text AS text FROM docs0
),
{cdc_fps('docs0', 'cb')},
{cdc_fps('docs1', 'cs')},
{fixed_fps('docs0', 'fb')},
{fixed_fps('docs1', 'fs')}
{audit('cb', 'cs', 'cdc')}
UNION ALL
{audit('fb', 'fs', 'fixed')}
ORDER BY method
"""


QUERIES = {
    "text_token_stats": (q_token_stats, _TOKEN_STATS_SQL),
    "text_cdc_chunks": (q_cdc_chunks, _cdc_sql()),
    # certificate: CDC survives a prefix edit, the fixed grid doesn't
    "text_cdc_shift_certificate": (
        q_cdc_shift_certificate,
        _cdc_shift_sql(),
    ),
    "text_term_burstiness": (q_term_burstiness, _BURSTINESS_SQL),
    "text_readability_fk": (q_readability_fk, _FK_SQL),
    "text_allpairs_cosine": (q_allpairs_cosine, _ALLPAIRS_SQL),
    "text_gopher_quality_flags": (q_gopher_quality_flags, _GOPHER_QUALITY_SQL),
    "text_bpe_learn_merges": (q_bpe_learn_merges, _bpe_learn_sql()),
    "text_bpe_apply_fertility": (q_bpe_apply_fertility, _bpe_apply_sql()),
    "text_char_entropy": (q_char_entropy, _CHAR_ENTROPY_SQL),
    "text_quality_ensemble": (q_quality_ensemble, _ENSEMBLE_SQL),
    "text_lang_guess": (q_lang_guess, _LANG_GUESS_SQL),
    "text_quality_score": (q_quality_score, _QUALITY_SQL),
    "text_corpus_filter_funnel": (q_corpus_filter_funnel, _FUNNEL_SQL),
    "text_chunk_documents": (q_chunk_documents, _CHUNK_SQL),
    "text_deterministic_sample": (q_deterministic_sample, _SAMPLE_SQL),
    "text_redact_pii": (q_redact_pii, _REDACT_SQL),
    "text_repetition_ratio": (q_repetition_ratio, _REPETITION_SQL),
    "text_gopher_repetition": (q_gopher_repetition, _GOPHER_SQL),
    "text_vocab_topk": (q_vocab_topk, _VOCAB_SQL),
    "text_zipf_fit": (q_zipf_fit, _ZIPF_SQL),
    "text_heaps_fit": (q_heaps_fit, _HEAPS_SQL),
    "text_pack_sequences": (q_pack_sequences, _PACK_SQL),
    "text_stratified_sample": (q_stratified_sample, _STRATIFIED_SQL),
    "text_unigram_logprob": (q_unigram_logprob, _UNIGRAM_SQL),
    "text_bigram_logprob": (q_bigram_logprob, _BIGRAM_SQL),
    "text_quality_curriculum_bins": (q_quality_curriculum_bins, _CURRICULUM_SQL),
    "text_bpe_token_stats": (q_bpe_token_stats, _BPE_SQL),
    "text_length_histogram": (q_length_histogram, _LENGTH_HIST_SQL),
    "text_tfidf_keywords": (q_tfidf_keywords, _TFIDF_SQL),
    "text_winnow_fingerprints": (q_winnow_fingerprints, _WINNOW_FPS_SQL),
    "text_winnow_shared_pairs": (q_winnow_shared_pairs, _WINNOW_PAIRS_SQL),
    "text_ccnet_buckets": (q_ccnet_buckets, _CCNET_BUCKETS_SQL),
    "text_pack_efficiency_report": (
        q_pack_efficiency_report,
        _pack_efficiency_sql(),
    ),
}
