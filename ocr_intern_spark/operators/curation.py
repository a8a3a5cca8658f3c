"""Corpus-curation operators for training-data pipelines:
benchmark decontamination and source-mix weighting. (SURVEY.md
"beyond the reference" set — the ops run before a 100 TB pretraining
corpus ships.)

Scale design:
* decontamination is an inverted join of the corpus's n-grams against
  the BENCHMARK side, which is tiny by construction (test sets are
  thousands of docs, the corpus is billions) — broadcast the benchmark
  gram set and the corpus side never shuffles for the join, only for
  the per-doc count aggregation;
* mix weights are one map-side-combined aggregation over (source),
  then a single tiny driver-safe frame of per-source stats.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ocr_intern_spark.functions.text import (
    _QUALITY_SQL,
    quality_score,
    token_count,
    word_ngrams,
    words,
)
from ocr_intern_spark.sources.tables import documents, table

DECON_NGRAM = 8       # words per contamination gram (GPT-3 used 13;
                      # 8 fits the synthetic corpus's doc lengths)
BENCH_MOD = 10        # doc_id % BENCH_MOD == 0 → "benchmark" doc
                      # (a 10% slice: wide enough to intersect the
                      # synthetic corpus's duplicate families at
                      # every sf, so the query is never vacuous)


def _grams(d: DataFrame, ngram: int = DECON_NGRAM) -> DataFrame:
    """(doc_id, g): distinct ngram-word grams of the lowercased
    text; docs shorter than the gram length contribute none."""
    toks = words(F.lower(F.col("text")))
    grams = word_ngrams(toks, ngram)
    return (
        d.where(F.size(toks) >= ngram)
        .select("doc_id", F.explode(F.array_distinct(grams)).alias("g"))
    )


def _grams_sql(ngram: int = DECON_NGRAM) -> str:
    return f"""
  SELECT doc_id, unnest(list_distinct(
           list_transform(range(0, len(toks) - {ngram} + 1),
                          i -> array_to_string(list_slice(toks, i + 1, i + {ngram}), ' '))
         )) AS g
  FROM (
    SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS toks
    FROM documents
  ) WHERE len(toks) >= {ngram}
"""


def _gram_edges(d: DataFrame, ngram: int = DECON_NGRAM) -> DataFrame:
    """(a, b): the gram-sharing provenance digraph — every document a
    points at the first corpus occurrence b (min doc_id) of each
    ngram-word gram it shares, distinct pairs, no self-loops. One
    gram → first-doc hash aggregate and one join back (inverted-index
    class, never all-pairs)."""
    g = _grams(d, ngram)
    first = g.groupBy("g").agg(F.min("doc_id").alias("src"))
    return (
        g.join(first, "g")
        .where(F.col("doc_id") != F.col("src"))
        .select(F.col("doc_id").alias("a"), F.col("src").alias("b"))
        .distinct()
    )


def _undirected(e: DataFrame) -> DataFrame:
    """(a, b) with a < b: each edge of e once, direction dropped."""
    return e.select(
        F.least("a", "b").alias("a"), F.greatest("a", "b").alias("b")
    ).distinct()


def q_decontaminate_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N-gram decontamination (the GPT-3 appendix-C recipe): flag
    every training document sharing at least one 8-word gram with any
    benchmark document (here: the deterministic doc_id % BENCH_MOD
    == 0 slice stands in for the held-out benchmark). Output per flagged
    doc: how many distinct grams leak and how many benchmark docs are
    touched — the evidence a removal pass acts on.

    The pair-forming join keys on the full gram STRING, not a 64-bit
    hash: at 10^9+ grams birthday collisions would flag clean docs
    (same reasoning as the winnowing pair join). The benchmark side is
    broadcast — the corpus-side gram stream never shuffles to join."""
    g = _grams(documents(spark, sf_dir))
    bench = (
        g.where(F.col("doc_id") % BENCH_MOD == 0)
        .select(F.col("doc_id").alias("bdoc"), "g")
    )
    train = g.where(F.col("doc_id") % BENCH_MOD != 0)
    return (
        train.join(F.broadcast(bench), "g")
        .groupBy("doc_id")
        .agg(
            F.count_distinct("g").alias("n_shared_grams"),
            F.count_distinct("bdoc").alias("n_bench_docs"),
        )
        .orderBy("doc_id")
    )


_GRAMS_SQL = _grams_sql()

_DECON_SQL = f"""
WITH grams AS ({_GRAMS_SQL}),
bench AS (SELECT doc_id AS bdoc, g FROM grams WHERE doc_id % {BENCH_MOD} = 0),
train AS (SELECT doc_id, g FROM grams WHERE doc_id % {BENCH_MOD} != 0)
SELECT t.doc_id,
       count(DISTINCT t.g) AS n_shared_grams,
       count(DISTINCT b.bdoc) AS n_bench_docs
FROM train t JOIN bench b ON t.g = b.g
GROUP BY t.doc_id ORDER BY doc_id
"""


def q_source_mix_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-mixing weights: per source, its token share of the
    corpus and the sampling weight that would re-balance sources to a
    UNIFORM token budget (weight = target_share / actual_share; >1 =
    upsample). One map-side-combined aggregation; the per-source
    frame is tiny at any corpus scale, so the share division happens
    on a broadcast 1-row total."""
    d = documents(spark, sf_dir).select(
        "source", token_count(F.col("text")).alias("nt")
    )
    per = d.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum("nt").alias("n_tokens"),
    )
    tot = per.agg(
        F.sum("n_tokens").alias("tot_tokens"),
        F.count("*").alias("n_sources"),
    )
    share = F.col("n_tokens") / F.col("tot_tokens")
    return (
        per.crossJoin(F.broadcast(tot))
        .select(
            "source",
            "n_docs",
            "n_tokens",
            F.round(share, 6).alias("token_share"),
            F.round((1.0 / F.col("n_sources")) / share, 6).alias("mix_weight"),
        )
        .orderBy("source")
    )


_MIX_SQL = """
WITH per AS (
  SELECT source, count(*) AS n_docs,
         CAST(sum(CASE WHEN length(trim(text)) = 0 THEN 0
                       ELSE length(regexp_split_to_array(trim(text), '\\s+'))
                  END) AS BIGINT) AS n_tokens
  FROM documents GROUP BY source
),
tot AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS tot_tokens,
               count(*) AS n_sources FROM per)
SELECT source, n_docs, n_tokens,
       round(CAST(n_tokens AS DOUBLE) / tot_tokens, 6) AS token_share,
       round((1.0 / n_sources) / (CAST(n_tokens AS DOUBLE) / tot_tokens), 6)
         AS mix_weight
FROM per, tot
ORDER BY source
"""


# --- Cavnar-Trenkle n-gram language ID --------------------------------------

LANG_PHRASES = {
    "en": "the and of to in that it is was for",
    "fr": "le la les et des que une pour dans est",
    "de": "der die das und ist nicht von mit den ein",
    "es": "el la los las y que de en un por",
    "zh": "的 是 了 在 和 有 不 这 中 大",
}
PROFILE_K = 20         # top trigrams per profile (rank 1..K)
OOP_PENALTY = PROFILE_K  # out-of-place distance for missing trigrams
TRAIN_MOD = 5          # doc_id % TRAIN_MOD == 0 → training slice


def q_langid_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cavnar-Trenkle rank-order n-gram language ID ("N-Gram-Based
    Text Categorization", 1994): per-language char-trigram RANK
    profiles built from a training slice, held-out docs classified by
    minimum out-of-place distance. The synthetic corpus's text is
    language-free word soup, so a per-language function-word phrase
    bank is appended deterministically from the lang label (the
    repo's probe-injection pattern) — the CLASSIFIER is the genuine
    algorithm and must recover the label through the soup.

    Entirely integer arithmetic (counts, ranks, |Δrank| sums) — no
    float portability concerns at all. Output: (doc_id, true_lang,
    pred_lang) for the held-out slice.

    Plan shape: training profiles are a tiny aggregate (langs ×
    PROFILE_K rows) broadcast into the scoring join; per-doc profiles
    are one window over (doc_id); the distance aggregation is a
    map-side-combinable sum."""
    from pyspark.sql.window import Window

    d = documents(spark, sf_dir)
    phrase = F.element_at(
        F.create_map(*[F.lit(x) for kv in LANG_PHRASES.items() for x in kv]),
        F.col("lang"),
    )
    # phrase repeated 6×: enough language-signal mass that the top-K
    # trigram profile isn't swamped by the shared word soup (1×
    # measured 27% held-out accuracy ≈ chance; 6× → 399/400)
    probe = F.concat(
        F.lower(F.trim(F.col("text"))),
        F.repeat(F.concat(F.lit(" "), phrase), 6),
    )
    tris = F.transform(
        F.sequence(F.lit(1), F.length(probe) - 2),
        lambda i: F.substring(probe, i, 3),
    )
    base = d.select("doc_id", "lang", F.explode(tris).alias("tri"))

    train = base.where(F.col("doc_id") % TRAIN_MOD == 0)
    wl = Window.partitionBy("lang").orderBy(F.desc("cnt"), F.asc("tri"))
    class_prof = (
        train.groupBy("lang", "tri").agg(F.count("*").alias("cnt"))
        .withColumn("crank", F.row_number().over(wl))
        .where(F.col("crank") <= PROFILE_K)
        .select(F.col("lang").alias("clang"), "tri", "crank")
    )

    test = base.where(F.col("doc_id") % TRAIN_MOD != 0)
    wd = Window.partitionBy("doc_id").orderBy(F.desc("cnt"), F.asc("tri"))
    doc_prof = (
        test.groupBy("doc_id", "lang", "tri").agg(F.count("*").alias("cnt"))
        .withColumn("drank", F.row_number().over(wd))
        .where(F.col("drank") <= PROFILE_K)
    )

    langs = class_prof.select("clang").distinct()
    scored = (
        doc_prof.crossJoin(F.broadcast(langs))
        .join(F.broadcast(class_prof), ["clang", "tri"], "left")
        .select(
            "doc_id", "lang", "clang",
            F.coalesce(
                F.abs(F.col("drank") - F.col("crank")), F.lit(OOP_PENALTY)
            ).alias("dist"),
        )
        .groupBy("doc_id", "lang", "clang")
        .agg(F.sum("dist").alias("total"))
    )
    wpick = Window.partitionBy("doc_id").orderBy("total", "clang")
    return (
        scored.withColumn("rk", F.row_number().over(wpick))
        .where(F.col("rk") == 1)
        .select(
            "doc_id",
            F.col("lang").alias("true_lang"),
            F.col("clang").alias("pred_lang"),
        )
        .orderBy("doc_id")
    )


_PHRASE_CASE = " ".join(
    f"WHEN '{k}' THEN '{v}'" for k, v in LANG_PHRASES.items()
)

_LANGID_SQL = f"""
WITH base AS (
  SELECT doc_id, lang, unnest(
           list_transform(range(1, length(probe) - 2 + 1),
                          i -> substr(probe, i, 3))
         ) AS tri
  FROM (
    SELECT doc_id, lang,
           lower(trim(text)) || repeat(' ' ||
           (CASE lang {_PHRASE_CASE} END), 6) AS probe
    FROM documents
  )
),
class_prof AS (
  SELECT lang AS clang, tri, crank FROM (
    SELECT lang, tri, count(*) AS cnt,
           row_number() OVER (PARTITION BY lang ORDER BY count(*) DESC, tri)
             AS crank
    FROM base WHERE doc_id % {TRAIN_MOD} = 0
    GROUP BY lang, tri
  ) WHERE crank <= {PROFILE_K}
),
doc_prof AS (
  SELECT doc_id, lang, tri, drank FROM (
    SELECT doc_id, lang, tri, count(*) AS cnt,
           row_number() OVER (PARTITION BY doc_id ORDER BY count(*) DESC, tri)
             AS drank
    FROM base WHERE doc_id % {TRAIN_MOD} != 0
    GROUP BY doc_id, lang, tri
  ) WHERE drank <= {PROFILE_K}
),
langs AS (SELECT DISTINCT clang FROM class_prof),
scored AS (
  SELECT d.doc_id, d.lang, l.clang,
         CAST(sum(coalesce(abs(d.drank - c.crank), {OOP_PENALTY})) AS BIGINT)
           AS total
  FROM doc_prof d CROSS JOIN langs l
  LEFT JOIN class_prof c ON c.clang = l.clang AND c.tri = d.tri
  GROUP BY d.doc_id, d.lang, l.clang
)
SELECT doc_id, lang AS true_lang, clang AS pred_lang
FROM (
  SELECT doc_id, lang, clang,
         row_number() OVER (PARTITION BY doc_id ORDER BY total, clang) AS rk
  FROM scored
)
WHERE rk = 1 ORDER BY doc_id
"""


MEDIA_TOKEN_COST = 8   # placeholder budget one media span consumes
PACK_CHUNK = 64        # tokens per training chunk


def q_interleaved_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-preserving INTERLEAVED text+media sequence packing — the
    batch-prep step for multimodal pretraining over this engine's
    document model (text spans interleaved with media refs): each doc
    becomes a unit stream of word tokens (cost 1) and media
    placeholders (cost MEDIA_TOKEN_COST), packed greedily into
    PACK_CHUNK-token chunks WITHOUT reordering — a media unit must
    stay between the words that surround it, which is exactly what
    plain per-doc text packing (text_pack_sequences) cannot express.

    Unit stream per doc (both engines identically): the doc's words
    in order, with one media placeholder inserted after the first
    half of the words (pos = n_words // 2). chunk_id =
    floor(cost-before-this-unit / PACK_CHUNK) — a pure running-sum
    window per doc, no shuffle beyond the doc partition.

    At scale this runs straight on the extraction output's spans
    array; the synthesized stream here keeps the oracle closed-form."""
    from pyspark.sql.window import Window

    d = documents(spark, sf_dir)
    toks = F.slice(words(F.col("text")), 1, 24)
    n = F.size(toks)
    word_units = F.transform(
        toks,
        lambda w, i: F.struct(
            F.lit("text").alias("kind"),
            w.alias("unit"),
            F.lit(1).alias("token_cost"),
            # media slots in after word n//2: words before keep rank
            # i, words after shift by 1
            F.when(i < (n / 2).cast("int"), i).otherwise(i + 1).alias("seq"),
        ),
    )
    media = F.array(
        F.struct(
            F.lit("media").alias("kind"),
            F.concat(F.lit("img://"), F.col("doc_id").cast("string")).alias("unit"),
            F.lit(MEDIA_TOKEN_COST).alias("token_cost"),
            (n / 2).cast("int").alias("seq"),
        )
    )
    units = d.select(
        "doc_id", F.explode(F.concat(word_units, media)).alias("u")
    ).select(
        "doc_id", F.col("u.seq").alias("seq"), F.col("u.kind").alias("kind"),
        F.col("u.unit").alias("unit"), F.col("u.token_cost").alias("token_cost"),
    )
    w = Window.partitionBy("doc_id").orderBy("seq")
    cum_before = F.sum("token_cost").over(w) - F.col("token_cost")
    return units.select(
        "doc_id", "seq", "kind", "unit", "token_cost",
        (cum_before / PACK_CHUNK).cast("int").alias("chunk_id"),
    ).orderBy("doc_id", "seq")


_INTERLEAVED_SQL = f"""
WITH base AS (
  SELECT doc_id, list_slice(regexp_split_to_array(trim(text), '\\s+'), 1, 24) AS toks
  FROM documents
),
units AS (
  SELECT doc_id,
         CASE WHEN i - 1 < len(toks) // 2 THEN i - 1 ELSE i END AS seq,
         'text' AS kind, toks[i] AS unit, 1 AS token_cost
  FROM base, LATERAL (SELECT generate_subscripts(toks, 1) AS i)
  UNION ALL
  SELECT doc_id, len(toks) // 2 AS seq,
         'media' AS kind, 'img://' || CAST(doc_id AS VARCHAR) AS unit,
         {MEDIA_TOKEN_COST} AS token_cost
  FROM base
)
SELECT doc_id, seq, kind, unit, token_cost,
       CAST((CAST(sum(token_cost) OVER (PARTITION BY doc_id ORDER BY seq) AS BIGINT)
             - token_cost) // {PACK_CHUNK} AS INT) AS chunk_id
FROM units
ORDER BY doc_id, seq
"""


def q_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame sampling through the REAL multimodal stage
    (operators/multimodal.py sample_video_frames: hash-repartitioned
    mapInPandas over wide payload rows, Arrow-batched) with the
    deterministic fake codec, hash-checked end to end: frame_sha =
    md5(payload ‖ byte(i)) is reproducible in DuckDB as
    md5(text || chr(i)) because the synthesized payload is the doc's
    utf-8 text and frame indices stay < 128 (single-byte chr). The
    media table is derived natively (payload = encode(text), n_frames
    = 2 + doc_id % 7), so the sampled count per doc exercises the
    min(frames_per_video, n_frames) clamp on both engines.

    At scale the payload column is the real video bytes: the stage
    repartitions by hash(media_id) before the Arrow pass so wide rows
    spread evenly, and Catalyst prunes the payload column out of any
    downstream metadata-only plan."""
    from ocr_intern_spark.operators.multimodal import sample_video_frames

    # read bare (not via documents()): the stage repartitions by
    # hash(media_id) itself, so a round-robin pre-repartition would
    # just add a second full exchange of the wide payload rows
    d = table(spark, sf_dir, "documents")
    media = d.select(
        F.col("doc_id").cast("string").alias("media_id"),
        F.encode("text", "utf-8").alias("payload"),
        F.struct(
            F.lit("video/mp4").alias("mime"),
            F.lit(64).alias("width"),
            F.lit(48).alias("height"),
            F.lit(4000).alias("duration_ms"),
            (F.lit(2) + F.col("doc_id") % 7).cast("int").alias("n_frames"),
        ).alias("meta"),
    )
    return sample_video_frames(media, frames_per_video=4).orderBy(
        "media_id", "frame_idx"
    )


_FRAME_SAMPLE_SQL = """
SELECT CAST(doc_id AS VARCHAR) AS media_id,
       CAST(u.i AS INT) AS frame_idx,
       md5(text || chr(CAST(u.i AS INT))) AS frame_sha
FROM documents, unnest(range(least(4, 2 + doc_id % 7))) AS u(i)
ORDER BY media_id, frame_idx
"""


SCENE_CUT_HAMMING = 30  # consecutive-frame signature distance cut


def q_scene_cuts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video scene-cut detection over the REAL frame-sampling stage:
    frames flow through the mapInPandas Arrow stage (the fake codec
    behind the MediaCodec seam — same honest-sandbox policy as
    frame_sample/phash), each frame gets a 60-bit signature from its
    content sha, and a cut fires where the Hamming distance between
    consecutive signatures crosses the threshold; scenes are the
    running count of cuts. This is the shot-segmentation pass a
    video-curation pipeline runs before per-scene captioning/
    sampling — the real codec would emit a perceptual signature,
    the plumbing (Arrow stage → lag window → running sum) is
    identical.

    Scale shape: one mapInPandas pass over the wide payload rows
    (hash-repartitioned by media), then ALL windows partition by
    media_id with ≤frames_per_video rows per frame — bounded. The
    signature is 15 hex chars (60 bits) so it stays inside signed
    BIGINT in both engines; Hamming = bit_count(xor)."""
    from ocr_intern_spark.operators.multimodal import sample_video_frames

    d = table(spark, sf_dir, "documents")
    media = d.select(
        F.col("doc_id").cast("string").alias("media_id"),
        F.encode("text", "utf-8").alias("payload"),
        F.struct(
            F.lit("video/mp4").alias("mime"),
            F.lit(64).alias("width"),
            F.lit(48).alias("height"),
            F.lit(4000).alias("duration_ms"),
            (F.lit(2) + F.col("doc_id") % 7).cast("int").alias("n_frames"),
        ).alias("meta"),
    )
    frames = sample_video_frames(media, frames_per_video=4)
    sig = F.conv(F.substring("frame_sha", 1, 15), 16, 10).cast("long")
    w = Window.partitionBy("media_id").orderBy("frame_idx")
    sigged = frames.select("media_id", "frame_idx", sig.alias("sig"))
    ham = F.expr("bit_count(sig ^ prev_sig)")
    return (
        sigged.withColumn("prev_sig", F.lag("sig").over(w))
        .select(
            "media_id",
            "frame_idx",
            F.coalesce(ham, F.lit(-1)).cast("int").alias("hamming"),
            (
                F.col("prev_sig").isNull()
                | (ham >= SCENE_CUT_HAMMING)
            ).alias("is_cut"),
        )
        .withColumn(
            "scene_id",
            F.sum(F.col("is_cut").cast("int")).over(w).cast("int"),
        )
        .orderBy("media_id", "frame_idx")
    )


_SCENE_CUTS_SQL = f"""
WITH frames AS (
  SELECT CAST(doc_id AS VARCHAR) AS media_id,
         CAST(u.i AS INT) AS frame_idx,
         CAST(('0x' || substr(md5(text || chr(CAST(u.i AS INT))), 1, 15))
              AS BIGINT) AS sig
  FROM documents, unnest(range(least(4, 2 + doc_id % 7))) AS u(i)
),
lagged AS (
  SELECT media_id, frame_idx, sig,
         lag(sig) OVER (PARTITION BY media_id ORDER BY frame_idx)
           AS prev_sig
  FROM frames
),
cuts AS (
  SELECT media_id, frame_idx,
         CAST(COALESCE(bit_count(xor(sig, prev_sig)), -1) AS INT)
           AS hamming,
         (prev_sig IS NULL
          OR bit_count(xor(sig, prev_sig)) >= {SCENE_CUT_HAMMING})
           AS is_cut
  FROM lagged
)
SELECT media_id, frame_idx, hamming, is_cut,
       CAST(sum(CASE WHEN is_cut THEN 1 ELSE 0 END)
            OVER (PARTITION BY media_id ORDER BY frame_idx) AS INT)
         AS scene_id
FROM cuts
ORDER BY media_id, frame_idx
"""


def q_phash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual-hash image dedup through the REAL multimodal aHash
    stage (operators/multimodal.image_ahash: hash-repartitioned
    mapInPandas over wide payload rows → 64-bit integer code), then a
    plain hash-aggregate on the code: clusters of size ≥ 2 with a
    representative and the sorted member list.

    Certification (the LSH-swap proof pattern): the media payload is
    synthesized as the first 64 chars of each document (477 distinct
    prefixes over 500 docs — planted duplicate groups at every sf),
    and aHash is a deterministic function of payload, so equal
    payloads MUST collide. The oracle groups by the prefix itself;
    hash equality therefore proves (a) the distributed decode→hash
    stage preserved content exactly and (b) zero aHash collisions
    among distinct payloads on this corpus — the grouping by an
    8-byte code is output-identical to grouping by content.

    Scale shape: at 10^12 images the group-by runs on the BIGINT code
    (map-side combinable, never touches payload bytes); near-dup
    extends by banding the code into 4×16-bit keys (pigeonhole covers
    Hamming ≤ 3) exactly like the MinHash-LSH path. The fake codec
    stands in for Pillow behind the MediaCodec seam — the Spark-side
    plumbing is the production plan."""
    from ocr_intern_spark.operators.multimodal import (
        ChainedFakeCodec,
        image_ahash,
    )

    d = table(spark, sf_dir, "documents")
    media = d.select(
        F.col("doc_id").cast("string").alias("media_id"),
        F.encode(F.substring("text", 1, 64), "utf-8").alias("payload"),
    )
    # the chained fake: full-entropy pixels so the 64-bit code is
    # collision-free on the corpus (the tiled fake measurably is not)
    hashed = image_ahash(media, codec=ChainedFakeCodec())
    return (
        hashed.select(F.col("media_id").cast("long").alias("doc"), "ahash")
        .groupBy("ahash")
        .agg(
            F.min("doc").alias("rep_doc"),
            F.count("*").alias("n_copies"),
            F.array_join(
                F.array_sort(F.collect_list("doc")), ","
            ).alias("members"),
        )
        .where(F.col("n_copies") >= 2)
        .select("rep_doc", "n_copies", "members")
        .orderBy("rep_doc")
    )


PHBAND_T = 3   # Hamming radius the 4×16-bit banding must cover
PHBAND_N = 4   # bands
PHBAND_W = 16  # bits per band


def q_phash_band_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual-hash NEAR-dup pairs via Hamming-space banding —
    the scale path q_phash_dedup's docstring promises, executed: the
    64-bit aHash splits into 4×16-bit bands, candidate pairs share
    at least one band (pigeonhole: any pair within Hamming ≤ 3 must
    agree on ≥1 of 4 bands — the MinHash-LSH band argument in
    Hamming space), and candidates verify with the exact
    bit_count(xor) distance. Band extraction is (code >> 16·i) &
    0xFFFF — the mask makes arithmetic-vs-logical shift moot, so
    the key is engine-portable even for negative signed codes.

    Certification (content-level, the phash_dedup pattern): the
    fake-codec codes are full-entropy functions of the 64-char
    payload prefix, so the only pairs within Hamming ≤ 3 are exact
    payload duplicates (a random distinct pair lands there with
    p ≈ 4·10⁴/2⁶⁴; corpus-wide ≈ 3·10⁻¹¹ — negligible), and the
    oracle emits exactly the equal-prefix pairs at distance 0.
    Hash equality therefore proves the band join found every exact
    dup and admitted zero spurious near-collisions.

    Scale shape: the band join runs on (band_idx, 16-bit key) —
    map-side-combinable candidate generation, ×4 constant expansion,
    never an all-pairs Hamming scan; verification joins the ≤dup-
    sized candidate set back to the 8-byte codes."""
    from ocr_intern_spark.operators.multimodal import (
        ChainedFakeCodec,
        image_ahash,
    )

    d = table(spark, sf_dir, "documents")
    media = d.select(
        F.col("doc_id").cast("string").alias("media_id"),
        F.encode(F.substring("text", 1, 64), "utf-8").alias("payload"),
    )
    codes = (
        image_ahash(media, codec=ChainedFakeCodec())
        .select(F.col("media_id").cast("long").alias("doc"), "ahash")
        .persist()
    )
    bands = codes.select(
        "doc",
        "ahash",
        F.explode(
            F.sequence(F.lit(0), F.lit(PHBAND_N - 1))
        ).alias("i"),
    ).select(
        "doc",
        "i",
        F.expr(f"shiftright(ahash, i * {PHBAND_W}) & 65535").alias("bv"),
    )
    cand = (
        bands.alias("a")
        .join(
            bands.alias("b"),
            (F.col("a.i") == F.col("b.i"))
            & (F.col("a.bv") == F.col("b.bv"))
            & (F.col("a.doc") < F.col("b.doc")),
        )
        .select(F.col("a.doc").alias("da"), F.col("b.doc").alias("db"))
        .distinct()
    )
    ca = codes.select(F.col("doc").alias("da"), F.col("ahash").alias("ha"))
    cb = codes.select(F.col("doc").alias("db"), F.col("ahash").alias("hb"))
    return (
        cand.join(ca, "da")
        .join(cb, "db")
        .select(
            F.col("da").alias("a"),
            F.col("db").alias("b"),
            F.expr("bit_count(ha ^ hb)").cast("int").alias("hamming"),
        )
        .where(F.col("hamming") <= PHBAND_T)
        .orderBy("a", "b")
    )


_PHBAND_SQL = """
SELECT a.doc_id AS a, b.doc_id AS b, CAST(0 AS INT) AS hamming
FROM documents a JOIN documents b
  ON substr(a.text, 1, 64) = substr(b.text, 1, 64)
 AND a.doc_id < b.doc_id
ORDER BY a, b
"""


CAP_W = 4  # caption window: words kept on each side of the media unit


def q_caption_align(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Caption MINING over the interleaved unit stream — the step
    that turns an interleaved text+media corpus into (image, caption)
    training pairs: for each media placeholder, keep the CAP_W words
    on each side as its before/after caption context (the adjacency
    heuristic CLIP-style pair builders start from). Shares the
    interleave rule with multimodal_interleaved_pack (media sits
    after the first n//2 of the doc's first 24 words), so the two
    queries can never disagree about where the media is.

    Pure per-row ARRAY arithmetic — slice bounds computed from the
    token count, no explode, no window, no shuffle at all: the plan
    is scan → project, the cheapest possible shape for a 10^12-doc
    pass (and the caption windows land in the same narrow stage as
    any downstream quality filter). Emits token counts per side so
    the empty-side edge (media at position 0 of a short doc) is
    visible rather than silent."""
    # read bare (not via documents()): its round-robin repartition would
    # add a full exchange of the text payloads to a map-only plan
    d = table(spark, sf_dir, "documents")
    toks = F.slice(words(F.col("text")), 1, 24)
    n = F.size(toks)
    m = (n / 2).cast("int")
    s = F.greatest(F.lit(1), m - (CAP_W - 1))
    before_len = m - s + 1
    after_len = F.least(F.lit(CAP_W), n - m)
    before = F.when(
        m > 0, F.array_join(F.slice(toks, s, before_len), " ")
    ).otherwise(F.lit(""))
    after = F.when(
        after_len > 0,
        F.array_join(F.slice(toks, m + 1, after_len), " "),
    ).otherwise(F.lit(""))
    return d.select(
        "doc_id",
        F.concat(F.lit("img://"), F.col("doc_id").cast("string")).alias(
            "media_ref"
        ),
        before.alias("caption_before"),
        after.alias("caption_after"),
        F.greatest(before_len, F.lit(0)).cast("int").alias("n_before"),
        F.greatest(after_len, F.lit(0)).cast("int").alias("n_after"),
    ).orderBy("doc_id")


_CAPTION_ALIGN_SQL = f"""
WITH base AS (
  SELECT doc_id,
         list_slice(regexp_split_to_array(trim(text), '\\s+'), 1, 24) AS toks
  FROM documents
),
meas AS (
  SELECT doc_id, toks, len(toks) AS n, len(toks) // 2 AS m FROM base
)
SELECT doc_id,
       'img://' || CAST(doc_id AS VARCHAR) AS media_ref,
       CASE WHEN m > 0
            THEN array_to_string(
                   list_slice(toks, GREATEST(1, m - {CAP_W - 1}), m), ' ')
            ELSE '' END AS caption_before,
       CASE WHEN n - m > 0
            THEN array_to_string(
                   list_slice(toks, m + 1, LEAST(n, m + {CAP_W})), ' ')
            ELSE '' END AS caption_after,
       CAST(GREATEST(m - GREATEST(1, m - {CAP_W - 1}) + 1, 0) AS INT)
         AS n_before,
       CAST(GREATEST(LEAST({CAP_W}, n - m), 0) AS INT) AS n_after
FROM meas
ORDER BY doc_id
"""


CONTRASTIVE_BATCHES = 16  # in-batch-negative groups


def q_contrastive_views(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive-pair construction (SimCSE/CLIP-text style
    pretraining prep): each document yields two complementary VIEWS —
    the first and second halves of its leading 24 tokens — forming a
    positive pair, and an md5-bucketed batch_id groups documents into
    the in-batch-negative sets a contrastive loss trains against.
    Hash bucketing (not round-robin) keeps assignment reproducible
    and shuffle-free: batch membership is a pure function of doc_id,
    so a re-run or a resume builds identical batches.

    Docs too short to split (n < 2) are dropped — a single-token
    positive pair is degenerate. Pure narrow projection otherwise:
    scan → filter → project, the multimodal_caption_align plan shape.
    At 10^12 docs the dataloader reads this output shard-aligned with
    table_shard_manifest's cuts."""
    d = table(spark, sf_dir, "documents")
    toks = F.slice(words(F.col("text")), 1, 24)
    n = F.size(toks)
    m = (n / 2).cast("int")
    batch = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 6), 16, 10)
        .cast("long")
        % CONTRASTIVE_BATCHES
    )
    return (
        d.select("doc_id", toks.alias("toks"), n.alias("n"), m.alias("m"))
        .where(F.col("n") >= 2)
        .select(
            "doc_id",
            batch.alias("batch_id"),
            F.array_join(F.slice(F.col("toks"), 1, F.col("m")), " ").alias(
                "view_a"
            ),
            F.array_join(
                F.slice(F.col("toks"), F.col("m") + 1, F.col("n") - F.col("m")),
                " ",
            ).alias("view_b"),
        )
        .orderBy("doc_id")
    )


_CONTRASTIVE_SQL = f"""
WITH base AS (
  SELECT doc_id,
         list_slice(regexp_split_to_array(trim(text), '\\s+'), 1, 24) AS toks
  FROM documents
),
meas AS (
  SELECT doc_id, toks, len(toks) AS n, len(toks) // 2 AS m FROM base
  WHERE len(toks) >= 2
)
SELECT doc_id,
       CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 6)) AS BIGINT)
         % {CONTRASTIVE_BATCHES} AS batch_id,
       array_to_string(list_slice(toks, 1, m), ' ') AS view_a,
       array_to_string(list_slice(toks, m + 1, n), ' ') AS view_b
FROM meas
ORDER BY doc_id
"""


def q_modality_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Modality token-budget report for the interleaved corpus: per
    source, text tokens vs media placeholder tokens (the same unit
    costs multimodal_interleaved_pack charges) and the media share in
    ppm — the dashboard number that decides whether an interleaved
    pretraining mix is drifting text-heavy or image-heavy, and the
    denominator mix-weight resampling acts on.

    Shares are integer ppm by cross-multiplication (no float
    division). One map-side-combinable aggregate over per-doc token
    counts — scan-shaped at any corpus size."""
    d = table(spark, sf_dir, "documents")
    n_text = F.least(
        F.size(words(F.col("text"))), F.lit(24)
    )
    per_src = (
        d.select(
            "source",
            n_text.cast("long").alias("text_toks"),
            F.lit(MEDIA_TOKEN_COST).cast("long").alias("media_toks"),
        )
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("text_toks").alias("text_tokens"),
            F.sum("media_toks").alias("media_tokens"),
        )
    )
    return per_src.select(
        "source",
        "n_docs",
        "text_tokens",
        "media_tokens",
        F.expr("CAST((media_tokens * 1000000) DIV (text_tokens + media_tokens) AS BIGINT)").alias(
            "media_share_ppm"
        ),
    ).orderBy("source")


_MODALITY_BALANCE_SQL = f"""
SELECT source, count(*) AS n_docs,
       CAST(sum(LEAST(len(regexp_split_to_array(trim(text), '\\s+')), 24))
            AS BIGINT) AS text_tokens,
       count(*) * {MEDIA_TOKEN_COST} AS media_tokens,
       (count(*) * {MEDIA_TOKEN_COST} * 1000000)
         // (CAST(sum(LEAST(len(regexp_split_to_array(trim(text), '\\s+')),
                             24)) AS BIGINT)
             + count(*) * {MEDIA_TOKEN_COST}) AS media_share_ppm
FROM documents
GROUP BY source
ORDER BY source
"""


def q_rouge_neardup_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROUGE-1 overlap audit for near-duplicate candidate pairs: for
    every prefix-64 collision pair (the same planted duplicate
    structure multimodal_phash_dedup certifies), the unigram-multiset
    overlap Σ_w min(cₐ(w), c_b(w)) and the integer F1 in ppm
    (2·ov·10⁶ DIV (lenₐ+len_b)) — the quantitative "how duplicate is
    this pair" score a dedup reviewer reads before tuning thresholds,
    and the eval metric that grades fuzzy-dedup candidate quality
    against textual ground truth.

    Scale shape: the candidate pair frame is dedup-output-sized
    (tiny vs corpus); member docs are SEMI-JOINED out of the corpus
    before the token explode, so token counting touches only pair
    members; the per-pair overlap is one (pair, token) hash aggregate
    over the min of two counts. All integers."""
    d = table(spark, sf_dir, "documents").select(
        "doc_id", "text", F.substring("text", 1, 64).alias("k")
    )
    a = d.alias("a")
    b = d.alias("b")
    pairs = a.join(
        b,
        (F.col("a.k") == F.col("b.k"))
        & (F.col("a.doc_id") < F.col("b.doc_id")),
    ).select(
        F.col("a.doc_id").alias("pa"), F.col("b.doc_id").alias("pb")
    ).persist()
    members = (
        pairs.select(F.col("pa").alias("doc_id"))
        .unionByName(pairs.select(F.col("pb").alias("doc_id")))
        .distinct()
    )
    counts = (
        d.join(members, "doc_id", "left_semi")
        .select(
            "doc_id",
            F.explode(words(F.lower(F.col("text")))).alias("tok"),
        )
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("c"))
        .persist()
    )
    lens = counts.groupBy("doc_id").agg(F.sum("c").alias("len"))
    ov = (
        pairs.join(
            counts.select(
                F.col("doc_id").alias("pa"),
                "tok",
                F.col("c").alias("ca"),
            ),
            "pa",
        )
        .join(
            counts.select(
                F.col("doc_id").alias("pb"),
                "tok",
                F.col("c").alias("cb"),
            ),
            ["pb", "tok"],
        )
        .groupBy("pa", "pb")
        .agg(F.sum(F.least("ca", "cb")).alias("overlap"))
    )
    return (
        pairs.join(ov, ["pa", "pb"], "left")
        .join(lens.select(F.col("doc_id").alias("pa"), F.col("len").alias("len_a")), "pa")
        .join(lens.select(F.col("doc_id").alias("pb"), F.col("len").alias("len_b")), "pb")
        .select(
            "pa",
            "pb",
            F.coalesce(F.col("overlap"), F.lit(0)).alias("overlap"),
            "len_a",
            "len_b",
            F.expr(
                "CAST((2 * coalesce(overlap, 0) * 1000000)"
                " DIV (len_a + len_b) AS BIGINT)"
            ).alias("f1_ppm"),
        )
        .orderBy("pa", "pb")
    )


_ROUGE_NEARDUP_SQL = """
WITH d AS (
  SELECT doc_id, text, substr(text, 1, 64) AS k FROM documents
),
pairs AS (
  SELECT a.doc_id AS pa, b.doc_id AS pb
  FROM d a JOIN d b ON a.k = b.k AND a.doc_id < b.doc_id
),
members AS (
  SELECT DISTINCT doc_id FROM (
    SELECT pa AS doc_id FROM pairs UNION ALL SELECT pb FROM pairs
  )
),
counts AS (
  SELECT doc_id, tok, count(*) AS c FROM (
    SELECT d.doc_id,
           unnest(regexp_split_to_array(trim(lower(d.text)), '\\s+')) AS tok
    FROM d JOIN members USING (doc_id)
  ) GROUP BY doc_id, tok
),
lens AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS len FROM counts GROUP BY doc_id),
ov AS (
  SELECT p.pa, p.pb, CAST(sum(LEAST(ca.c, cb.c)) AS BIGINT) AS overlap
  FROM pairs p
  JOIN counts ca ON ca.doc_id = p.pa
  JOIN counts cb ON cb.doc_id = p.pb AND cb.tok = ca.tok
  GROUP BY p.pa, p.pb
)
SELECT p.pa, p.pb,
       COALESCE(o.overlap, 0) AS overlap,
       la.len AS len_a, lb.len AS len_b,
       (2 * COALESCE(o.overlap, 0) * 1000000) // (la.len + lb.len) AS f1_ppm
FROM pairs p
LEFT JOIN ov o ON o.pa = p.pa AND o.pb = p.pb
JOIN lens la ON la.doc_id = p.pa
JOIN lens lb ON lb.doc_id = p.pb
ORDER BY p.pa, p.pb
"""


_PHASH_DEDUP_SQL = """
SELECT min(doc_id) AS rep_doc,
       count(*) AS n_copies,
       string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id) AS members
FROM documents
GROUP BY substr(text, 1, 64)
HAVING count(*) >= 2
ORDER BY rep_doc
"""


MIX_HASH_HEX = 6  # md5-prefix width for the resample draw (24 bits)


def q_mix_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic mix resampling — the pass that APPLIES
    q_source_mix_weights: every document draws a uniform variate
    from its md5(doc_id) prefix and receives ``n_copies`` replicas
    so each source's expected token budget is uniform
    (floor(weight) copies + one more iff draw < frac(weight);
    weight ≤ 1 degenerates to keep-iff-draw < weight).

    All comparisons are INTEGER cross-multiplications — weight is
    the exact rational tot_tokens / (n_sources·src_tokens), and the
    draw test ``md5_24bit·denom < rem·2^24`` runs in decimal(38,0)
    so no float boundary can disagree between engines (at 100 TB the
    products exceed int64 — hence decimal, DuckDB widens to HUGEINT
    natively).

    Scale shape: per-source stats are a tiny broadcast; the decision
    is a narrow codegen'd projection per row — no shuffle at all
    beyond the stats agg."""
    d = documents(spark, sf_dir)
    per = d.select(
        "source", token_count(F.col("text")).alias("nt")
    ).groupBy("source").agg(F.sum("nt").alias("src_tokens"))
    tot = per.agg(
        F.sum("src_tokens").alias("tot_tokens"),
        F.count("*").alias("n_sources"),
    )
    stats = per.crossJoin(F.broadcast(tot)).select(
        "source",
        F.col("src_tokens"),
        (F.col("n_sources") * F.col("src_tokens")).alias("denom"),
        F.col("tot_tokens"),
    )
    scale = 16 ** MIX_HASH_HEX
    draw = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, MIX_HASH_HEX),
        16,
        10,
    ).cast("bigint")
    # exact integer division (Spark `/` is double division — fine at
    # test scale but not provably floor-exact past 2^53)
    n_whole = F.expr("tot_tokens DIV denom")
    rem = F.col("tot_tokens") - n_whole * F.col("denom")
    extra = (
        draw.cast("decimal(38,0)") * F.col("denom").cast("decimal(38,0)")
        < rem.cast("decimal(38,0)") * F.lit(scale).cast("decimal(38,0)")
    )
    return (
        d.join(F.broadcast(stats), "source")
        .select(
            "doc_id",
            "source",
            (n_whole + extra.cast("bigint")).alias("n_copies"),
        )
        .orderBy("doc_id")
    )


_MIX_RESAMPLE_SQL = f"""
WITH per AS (
  SELECT source,
         CAST(sum(CASE WHEN length(trim(text)) = 0 THEN 0
                       ELSE length(regexp_split_to_array(trim(text), '\\s+'))
                  END) AS BIGINT) AS src_tokens
  FROM documents GROUP BY source
),
tot AS (SELECT CAST(sum(src_tokens) AS BIGINT) AS tot_tokens,
               count(*) AS n_sources FROM per),
stats AS (
  SELECT source, n_sources * src_tokens AS denom, tot_tokens
  FROM per, tot
)
SELECT d.doc_id, d.source,
       CAST(tot_tokens // denom
            + CASE WHEN CAST(CAST(('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, {MIX_HASH_HEX})) AS BIGINT) AS HUGEINT)
                        * denom
                   < CAST(tot_tokens - (tot_tokens // denom) * denom AS HUGEINT)
                        * {16 ** MIX_HASH_HEX}
                   THEN 1 ELSE 0 END AS BIGINT) AS n_copies
FROM documents d JOIN stats USING (source)
ORDER BY d.doc_id
"""


def q_novelty_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document novelty (data-pruning signal): the fraction of a
    document's distinct 8-word grams whose FIRST corpus occurrence
    (minimum doc_id) is this document. Exact duplicates of earlier
    docs score 0; fresh content scores 1 — the greedy-coverage
    ordering criterion from facility-location data selection.

    Scale shape: the gram→first-doc map is one hash aggregate on the
    gram key (map-side min partials); attribution is an inverted-
    index equi-join on the same key (never all-pairs, same class as
    the n-gram Jaccard index); the final per-doc fraction is one
    doc_id aggregate. Integer counts divided once at the end."""
    g = _grams(documents(spark, sf_dir))
    first = g.groupBy("g").agg(F.min("doc_id").alias("first_doc"))
    return (
        g.join(first, "g")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(
                (F.col("first_doc") == F.col("doc_id")).cast("bigint")
            ).alias("n_novel"),
        )
        .select(
            "doc_id",
            "n_grams",
            "n_novel",
            F.round(
                F.col("n_novel").cast("double") / F.col("n_grams"), 6
            ).alias("novelty"),
        )
        .orderBy("doc_id")
    )


_NOVELTY_SQL = f"""
WITH grams AS (
  SELECT DISTINCT doc_id, g FROM (
    SELECT doc_id,
           unnest(list_transform(
             range(0, len(toks) - {DECON_NGRAM} + 1),
             i -> array_to_string(list_slice(toks, i + 1, i + {DECON_NGRAM}), ' ')
           )) AS g
    FROM (
      SELECT doc_id,
             regexp_split_to_array(trim(lower(text)), '\\s+') AS toks
      FROM documents
    ) WHERE len(toks) >= {DECON_NGRAM}
  )
),
first AS (SELECT g, min(doc_id) AS first_doc FROM grams GROUP BY g)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_grams,
       CAST(sum(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
       round(CAST(sum(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END) AS DOUBLE)
             / count(*), 6) AS novelty
FROM grams JOIN first USING (g)
GROUP BY doc_id
ORDER BY doc_id
"""


# --- C4-style duplicated-span removal ---------------------------------------

SPAN_W = 8  # words per span unit (C4 used three-sentence spans; the
            # synthetic corpus has no sentence boundaries, so fixed
            # 8-word segments are the span unit)


def q_span_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style duplicated-span removal (Raffel et al. 2020 §2.2:
    "we discarded all but one of any three-sentence span occurring
    more than once"): the corpus is segmented into non-overlapping
    SPAN_W-word spans, every span keeps only its FIRST corpus
    occurrence (minimum (doc_id, pos)), and each document's surviving
    text is reassembled in original order. Exact duplicate documents
    collapse to empty; partial overlaps lose only the shared spans.

    Output per doc: (n_spans, n_kept, clean_text). Empty-text docs
    contribute no spans and are absent (both engines filter them).

    Scale shape: first-occurrence is min(struct(doc_id,pos)) — a
    map-side-combinable agg on the span key, so a span duplicated a
    billion times still reduces to one row per partition before the
    exchange (no window over a hot key); attribution joins that 1-row-
    per-key frame back on the span STRING (no 64-bit-collision risk,
    same rule as decontamination); reassembly is ONE doc_id exchange.
    AQE skew-join splits any residual hot-span partition."""
    d = documents(spark, sf_dir).where(F.length(F.trim("text")) > 0)
    toks = words(F.lower(F.col("text")))
    nseg = ((F.size(toks) - 1) / SPAN_W).cast("int") + 1
    segs = F.transform(
        F.sequence(F.lit(0), nseg - 1),
        lambda i: F.struct(
            i.cast("int").alias("pos"),
            F.array_join(
                F.slice(toks, i * SPAN_W + 1, SPAN_W), " "
            ).alias("seg"),
        ),
    )
    s = d.select("doc_id", F.explode(segs).alias("u")).select(
        "doc_id", F.col("u.pos").alias("pos"), F.col("u.seg").alias("seg")
    )
    first = s.groupBy("seg").agg(
        F.min(F.struct("doc_id", "pos")).alias("w")
    )
    keep = (F.col("doc_id") == F.col("w.doc_id")) & (
        F.col("pos") == F.col("w.pos")
    )
    return (
        s.join(first, "seg")
        .select("doc_id", "pos", "seg", keep.alias("keep"))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_spans"),
            F.sum(F.col("keep").cast("bigint")).alias("n_kept"),
            F.array_join(
                F.transform(
                    F.filter(
                        F.array_sort(
                            F.collect_list(F.struct("pos", "seg", "keep"))
                        ),
                        lambda u: u["keep"],
                    ),
                    lambda u: u["seg"],
                ),
                " ",
            ).alias("clean_text"),
        )
        .orderBy("doc_id")
    )


_SPAN_DEDUP_SQL = f"""
WITH base AS (
  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS toks
  FROM documents WHERE length(trim(text)) > 0
),
segs AS (
  SELECT doc_id, i AS pos,
         array_to_string(
           list_slice(toks, i * {SPAN_W} + 1, i * {SPAN_W} + {SPAN_W}), ' '
         ) AS seg
  FROM base,
       LATERAL (SELECT unnest(range(0, (len(toks) - 1) // {SPAN_W} + 1)) AS i)
),
first AS (
  SELECT seg, doc_id AS wdoc, pos AS wpos FROM (
    SELECT seg, doc_id, pos,
           row_number() OVER (PARTITION BY seg ORDER BY doc_id, pos) AS rk
    FROM segs
  ) WHERE rk = 1
)
SELECT s.doc_id,
       CAST(count(*) AS BIGINT) AS n_spans,
       CAST(sum(CASE WHEN s.doc_id = f.wdoc AND s.pos = f.wpos
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       coalesce(string_agg(
         CASE WHEN s.doc_id = f.wdoc AND s.pos = f.wpos THEN s.seg END,
         ' ' ORDER BY s.pos), '') AS clean_text
FROM segs s JOIN first f USING (seg)
GROUP BY s.doc_id ORDER BY s.doc_id
"""


# --- ExactSubstr-style token-level duplicate removal ------------------------

SUB_L = 8  # window length in words (Lee et al. used 50 BPE tokens;
           # 8 fits the synthetic doc lengths)


def q_substr_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ExactSubstr-style duplicate-substring removal ("Deduplicating
    Training Data Makes Language Models Better", Lee et al. 2022),
    token-granular: every OVERLAPPING SUB_L-word window gets a global
    first-occurrence flag (minimum (doc_id, start), like the C4 span
    pass but stride 1), and a token is REMOVED iff every window
    covering it is a later duplicate — so removal boundaries land
    exactly where the shared substring ends, not at segment edges.
    Docs shorter than SUB_L words have no windows and keep all tokens.

    Output per doc: (n_tokens, n_removed, clean_text).

    The reference engine has no corpus-level pass at all (per-file
    loop); this is the "beyond the reference" training-data set.

    Scale shape: stride-1 windows cost SUB_L× the span pass's key
    volume — the price of token-granular boundaries (Lee et al. pay
    it with a monolithic suffix array; a shuffle-based engine pays it
    in exchange bytes). First-occurrence is the same map-side-
    combinable min(struct) on the window STRING; flag re-assembly is
    ONE doc_id exchange into a per-doc boolean array; the cover test
    is then a pure array fold (no per-token rows ever shuffle)."""
    d = documents(spark, sf_dir).where(F.length(F.trim("text")) > 0)
    toks_col = words(F.lower(F.col("text")))
    base = d.select("doc_id", toks_col.alias("toks"))
    n = F.size("toks")
    wins = F.transform(
        F.sequence(F.lit(0), n - SUB_L),
        lambda i: F.struct(
            i.cast("int").alias("start"),
            F.array_join(F.slice("toks", i + 1, SUB_L), " ").alias("w"),
        ),
    )
    s = (
        base.where(n >= SUB_L)
        .select("doc_id", F.explode(wins).alias("u"))
        .select(
            "doc_id", F.col("u.start").alias("start"), F.col("u.w").alias("w")
        )
    )
    first = s.groupBy("w").agg(F.min(F.struct("doc_id", "start")).alias("f"))
    dup = ~(
        (F.col("doc_id") == F.col("f.doc_id"))
        & (F.col("start") == F.col("f.start"))
    )
    flags = (
        s.join(first, "w")
        .select("doc_id", "start", dup.alias("dup"))
        .groupBy("doc_id")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("start", "dup"))),
                lambda u: u["dup"],
            ).alias("flags")
        )
    )
    j = base.join(flags, "doc_id", "left").select(
        "doc_id", "toks",
        F.coalesce("flags", F.array().cast("array<boolean>")).alias("flags"),
    )
    nw = F.size("flags")

    def removed(tok_i):
        lo = F.greatest(tok_i - SUB_L + 1, F.lit(0))
        hi = F.least(tok_i, nw - 1)
        cover = F.slice("flags", lo + 1, hi - lo + 1)
        return (nw > 0) & ~F.array_contains(cover, F.lit(False))

    kept = F.filter(F.sequence(F.lit(0), F.size("toks") - 1),
                    lambda i: ~removed(i))
    return j.select(
        "doc_id",
        F.size("toks").alias("n_tokens"),
        (F.size("toks") - F.size(kept)).cast("bigint").alias("n_removed"),
        F.array_join(
            F.transform(kept, lambda i: F.element_at("toks", i + 1)), " "
        ).alias("clean_text"),
    ).orderBy("doc_id")


_SUBSTR_DEDUP_SQL = f"""
WITH base AS (
  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS toks
  FROM documents WHERE length(trim(text)) > 0
),
wins AS (
  SELECT doc_id, i AS start,
         array_to_string(list_slice(toks, i + 1, i + {SUB_L}), ' ') AS w
  FROM base, LATERAL (SELECT unnest(range(0, len(toks) - {SUB_L} + 1)) AS i)
  WHERE len(toks) >= {SUB_L}
),
first AS (
  SELECT w, doc_id AS fdoc, start AS fstart FROM (
    SELECT w, doc_id, start,
           row_number() OVER (PARTITION BY w ORDER BY doc_id, start) AS rk
    FROM wins
  ) WHERE rk = 1
),
flags AS (
  SELECT s.doc_id,
         list(NOT (s.doc_id = f.fdoc AND s.start = f.fstart)
              ORDER BY s.start) AS flags
  FROM wins s JOIN first f USING (w)
  GROUP BY s.doc_id
)
SELECT b.doc_id,
       CAST(len(b.toks) AS BIGINT) AS n_tokens,
       CAST(len(b.toks) - len(kept) AS BIGINT) AS n_removed,
       coalesce(array_to_string(
         list_transform(kept, j -> b.toks[j + 1]), ' '), '') AS clean_text
FROM base b LEFT JOIN flags f USING (doc_id),
     LATERAL (
       SELECT list_filter(
                range(0, len(b.toks)),
                j -> NOT (
                  coalesce(len(f.flags), 0) > 0
                  AND NOT list_contains(
                    list_slice(f.flags,
                               greatest(j - {SUB_L} + 1, 0) + 1,
                               least(j, len(f.flags) - 1) + 1),
                    false)
                )
              ) AS kept
     )
ORDER BY b.doc_id
"""


# --- model-based quality filtering (fastText-style hashing trick) ----------

QC_BUCKETS = 4096    # hashed feature space (fastText uses 2M; 4096
                     # exercises real collisions at test scale)
QC_WSPAN = 2001      # weight quantization: integer milli-units in
                     # [-1000, 1000] — the logit sum stays in BIGINT
                     # so the score is bit-portable across engines


def q_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-based quality filtering, the fastText-classifier shape
    used by CCNet/LLaMA data pipelines (Joulin et al. 2016 linear
    classifier + hashing trick): features are unigrams AND adjacent
    bigrams of the lowercased text, hashed into QC_BUCKETS buckets by
    the engine-portable FNV-1a-64; each bucket carries an integer
    milli-weight; a document's logit is the SUM of its gram weights
    and `keep` is the sign. Weights here are derived deterministically
    from the bucket id (pmod(fnv('w|'||b), 2001) - 1000) so the oracle
    can reproduce them — in production they are a trained table
    broadcast-joined in exactly the same plan position.

    Scale shape: gram explosion is a narrow codegen'd projection
    (split + zip_with, no UDF); hashing and weight lookup are
    per-row expressions; the only exchange is the final doc_id
    hash aggregate with map-side SUM/COUNT partials. Integer logits —
    no float summation-order hazard between engines.

    r6 audit: two rewrites of the double FNV fold were tried and BOTH
    REVERTED on measurement — (a) weights per DISTINCT gram joined
    back: the join strategy flapped between broadcast and SMJ run to
    run (bimodal 1.9 s / 5.2 s at 10x-sf0.1, and a forced broadcast
    is scale-unsafe on a real crawl vocabulary); (b) the
    bucket→weight map constant-folded to a 4096-entry array literal:
    faster in an isolated alternating A/B but consistently ~2×
    SLOWER inside the bench harness itself (2.15-2.4 s vs ~1.0 s at
    sf0.1, reproduced solo and in two full bench runs) — cause not
    isolated within the round budget, so the proven r5 form stands.
    Details in OPTIMIZATION_r06.md."""
    from ocr_intern_spark.operators.dedup import fnv1a64_spark

    d = documents(spark, sf_dir)
    toks = words(F.lower(F.col("text")))
    n = F.size(toks)
    pairs = F.greatest(n - 1, F.lit(0))
    bi = F.zip_with(
        F.slice(toks, 1, pairs),
        F.slice(toks, 2, pairs),
        lambda a, b: F.concat(a, F.lit(" "), b),
    )
    g = (
        d.where(F.length(F.trim(F.col("text"))) > 0)
        .select("doc_id", F.explode(F.concat(toks, bi)).alias("g"))
    )
    bucket = F.expr(f"pmod({fnv1a64_spark('g')}, {QC_BUCKETS})")
    weight = F.expr(
        f"pmod({fnv1a64_spark(chr(39) + 'w|' + chr(39) + ' || CAST(b AS STRING)')},"
        f" {QC_WSPAN}) - 1000"
    )
    return (
        g.select("doc_id", bucket.alias("b"))
        .select("doc_id", weight.alias("w"))
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_grams"),
            F.sum("w").alias("logit_milli"),
        )
        .withColumn("keep", F.col("logit_milli") > 0)
        .orderBy("doc_id")
    )


def _qc_sql() -> str:
    from ocr_intern_spark.operators.dedup import fnv1a64_duckdb

    fnv_g = fnv1a64_duckdb("g")
    fnv_w = fnv1a64_duckdb("'w|' || CAST(b AS VARCHAR)")
    return f"""
WITH t AS (SELECT doc_id,
                  regexp_split_to_array(trim(lower(text)), '\\s+') AS t
           FROM documents WHERE length(trim(text)) > 0),
g AS (SELECT doc_id, unnest(list_concat(t,
        list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1]))) AS g
      FROM t),
bk AS (SELECT doc_id, (({fnv_g} % {QC_BUCKETS}) + {QC_BUCKETS}) % {QC_BUCKETS} AS b
       FROM g),
w AS (SELECT doc_id,
             (({fnv_w} % {QC_WSPAN}) + {QC_WSPAN}) % {QC_WSPAN} - 1000 AS w
      FROM bk)
SELECT doc_id, count(*) AS n_grams,
       CAST(sum(w) AS BIGINT) AS logit_milli,
       sum(w) > 0 AS keep
FROM w GROUP BY doc_id ORDER BY doc_id
"""


# --- DSIR-style hashed importance selection ---------------------------------

DSIR_BUCKETS = 1024   # hashed unigram feature space (Xie et al. 2023
                      # use 10k hashed buckets)
DSIR_TARGET = "fr"    # the "target domain" sample: the French slice
                      # stands in for the target corpus (languages are
                      # the only real distribution shift the synthetic
                      # corpus carries; sources are homogeneous mixes)
DSIR_TOPK = 50        # selection budget


def q_dsir_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style data selection (Xie et al. 2023, Data Selection via
    Importance Resampling): estimate hashed-unigram bucket frequencies
    on a target-domain sample vs the raw corpus, score every document
    by how target-like its grams are, keep the top-K. The paper's
    per-gram log-ratio log(p_t(b)/p_r(b)) is replaced by the
    SIGN-EQUIVALENT integer cross-multiplication
    (t_b+1)·R − (r_b+1)·T (Laplace-smoothed, T/R = smoothed totals):
    linear instead of log so every term and every document score is an
    exact decimal(38,0)/HUGEINT — bit-portable where a float log-sum
    is not. Ranking differs from the log form only in term weighting,
    not per-bucket direction; the selection stays importance-ordered.

    The synthetic corpus's text is language-free word soup, so the
    per-language function-word phrase bank is appended once,
    deterministically from the lang label (the repo's probe-injection
    pattern, same bank as q_langid_ngram) — the SCORER sees only raw
    hashed tokens and must recover the target slice through the soup.

    Scale shape: bucket stats are ONE hash aggregate over the gram
    stream (map-side count partials) producing ≤DSIR_BUCKETS rows —
    broadcast back; scoring is the same narrow gram stream joined to
    the broadcast bucket table and summed per doc (second corpus scan;
    persist-or-checkpoint the gram frame to make it one). Top-K is
    orderBy+limit — TakeOrderedAndProject, per-partition partial
    top-K, never a full sort. At production scale swap the fixed K
    for a threshold from approx_percentile(score)."""
    from ocr_intern_spark.operators.dedup import fnv1a64_spark

    d = documents(spark, sf_dir)
    phrase = F.element_at(
        F.create_map(*[F.lit(x) for kv in LANG_PHRASES.items() for x in kv]),
        F.col("lang"),
    )
    probe = F.concat(F.trim(F.lower(F.col("text"))), F.lit(" "), phrase)
    g = (
        d.where(F.length(F.trim(F.col("text"))) > 0)
        .select(
            "doc_id",
            (F.col("lang") == DSIR_TARGET).alias("is_t"),
            F.explode(words(probe)).alias("g"),
        )
        .select(
            "doc_id",
            "is_t",
            F.expr(f"pmod({fnv1a64_spark('g')}, {DSIR_BUCKETS})").alias("b"),
        )
    )
    # ≤DSIR_BUCKETS rows — cached so tot and bt don't each re-derive
    # the full gram scan (Spark shares no subplans across consumers)
    cnt = g.groupBy("b").agg(
        F.count("*").alias("r_cnt"),
        F.sum(F.col("is_t").cast("bigint")).alias("t_cnt"),
    ).cache()
    tot = cnt.agg(
        (F.sum("r_cnt") + DSIR_BUCKETS).alias("R"),
        (F.sum("t_cnt") + DSIR_BUCKETS).alias("T"),
    )

    def dec(c):  # decimal(19,0) operands keep the product ≤ 38 digits
        return c.cast("decimal(19,0)")

    bt = cnt.crossJoin(F.broadcast(tot)).select(
        "b",
        (
            dec(F.col("t_cnt") + 1) * dec(F.col("R"))
            - dec(F.col("r_cnt") + 1) * dec(F.col("T"))
        ).alias("term"),
    )
    return (
        g.join(F.broadcast(bt), "b")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_grams"), F.sum("term").alias("score"))
        .orderBy(F.col("score").desc(), "doc_id")
        .limit(DSIR_TOPK)
        # score is an exact decimal(38,0); emit it as its canonical digit
        # string so the cross-engine compare is lexical on digits, never on a
        # float rendering (above 9 significant digits Decimal-through-%.9g
        # and int diverge: '1.80401574e+09' vs '1804015736')
        .withColumn("score", F.col("score").cast("string"))
    )


def _dsir_sql() -> str:
    from ocr_intern_spark.operators.dedup import fnv1a64_duckdb

    fnv_g = fnv1a64_duckdb("g")
    return f"""
WITH t AS (SELECT doc_id, lang,
                  unnest(regexp_split_to_array(
                    lower(trim(text)) || ' ' || (CASE lang {_PHRASE_CASE} END),
                    '\\s+')) AS g
           FROM documents WHERE length(trim(text)) > 0),
gb AS (SELECT doc_id, lang = '{DSIR_TARGET}' AS is_t,
              (({fnv_g} % {DSIR_BUCKETS}) + {DSIR_BUCKETS}) % {DSIR_BUCKETS} AS b
       FROM t),
cnt AS (SELECT b, count(*) AS r_cnt,
               sum(CASE WHEN is_t THEN 1 ELSE 0 END) AS t_cnt
        FROM gb GROUP BY b),
tot AS (SELECT sum(r_cnt) + {DSIR_BUCKETS} AS R,
               sum(t_cnt) + {DSIR_BUCKETS} AS T FROM cnt),
bt AS (SELECT b, CAST(t_cnt + 1 AS HUGEINT) * CAST(R AS HUGEINT)
                 - CAST(r_cnt + 1 AS HUGEINT) * CAST(T AS HUGEINT) AS term
       FROM cnt, tot)
SELECT doc_id, n_grams, CAST(score AS VARCHAR) AS score
FROM (SELECT doc_id, count(*) AS n_grams, sum(term) AS score
      FROM gb JOIN bt USING (b)
      GROUP BY doc_id ORDER BY score DESC, doc_id LIMIT {DSIR_TOPK})
ORDER BY CAST(score AS HUGEINT) DESC, doc_id
"""




# --- provenance PageRank --------------------------------------------------------

PR_ROUNDS = 3
PR_DAMP = 0.85


def q_provenance_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank (Brin & Page 1998) over the content-PROVENANCE graph:
    every document points at the first corpus occurrence (min doc_id)
    of each 8-gram it shares — the inverse of q_novelty_score's
    attribution. High rank = canonical source documents whose content
    propagated widest; the signal a dedup retention pass can prefer
    over raw quality. Plain same-degree near-dup components give
    PageRank a UNIFORM fixed point (measured: constant 1/N on the
    Jaccard pair graph) — the provenance digraph is irregular, so
    ranks actually order sources (5 distinct tiers at sf0.001, top
    3.5x the teleport floor).

    Variant note: dangling documents (no outbound shared grams) DROP
    their damped mass instead of redistributing it — one join fewer
    per round, ordering unaffected (every dangling node loses the
    same factor), stated rather than hidden.

    Scale shape: the gram->first-doc map is one hash aggregate; edges
    are the distinct attribution pairs (inverted-index class, never
    all-pairs); each of the PR_ROUNDS rounds is ONE edges-ranks join
    + one dst-sum hash aggregate, lazily unrolled (checkpoint every
    ~10 rounds at real iteration counts, the connected-components
    recipe). Ranks rounded to 1e-9 per round, 1e-6 at the end - the
    repo's float-portability quantum discipline."""
    d = documents(spark, sf_dir)
    edges = _gram_edges(d).cache()  # reused every round; checkpoint table at scale
    nodes = d.select("doc_id")
    n1 = nodes.agg(F.count("*").alias("n"))
    deg = edges.groupBy("a").agg(F.count("*").alias("deg"))
    r = nodes.crossJoin(F.broadcast(n1)).select(
        "doc_id", (F.lit(1.0) / F.col("n")).alias("pr")
    )
    for _ in range(PR_ROUNDS):
        contrib = (
            edges.join(r.withColumnRenamed("doc_id", "a"), "a")
            .join(deg, "a")
            .select(
                F.col("b").alias("doc_id"),
                (F.col("pr") / F.col("deg")).alias("c"),
            )
        )
        sums = contrib.groupBy("doc_id").agg(F.sum("c").alias("s"))
        r = (
            nodes.join(sums, "doc_id", "left")
            .crossJoin(F.broadcast(n1))
            .select(
                "doc_id",
                F.round(
                    (1 - PR_DAMP) / F.col("n")
                    + PR_DAMP * F.coalesce("s", F.lit(0.0)),
                    9,
                ).alias("pr"),
            )
        )
    return r.select("doc_id", F.round("pr", 6).alias("pr")).orderBy("doc_id")


def _provenance_sql() -> str:
    rounds = []
    prev = "r0"
    for k in range(PR_ROUNDS):
        rounds.append(f"""
r{k + 1} AS (
  SELECT n.doc_id,
         round((1 - {PR_DAMP}) / (SELECT n FROM nn)
               + {PR_DAMP} * coalesce(s.s, 0.0), 9) AS pr
  FROM nodes n LEFT JOIN (
    SELECT e.b AS doc_id, sum(p.pr / d.deg) AS s
    FROM edges e JOIN {prev} p ON p.doc_id = e.a JOIN deg d ON d.a = e.a
    GROUP BY e.b
  ) s USING (doc_id)
)""")
        prev = f"r{k + 1}"
    return f"""
WITH grams AS ({_GRAMS_SQL}),
first AS (SELECT g, min(doc_id) AS src FROM grams GROUP BY g),
edges AS (SELECT DISTINCT gr.doc_id AS a, f.src AS b
          FROM grams gr JOIN first f USING (g) WHERE gr.doc_id != f.src),
nodes AS (SELECT doc_id FROM documents),
nn AS (SELECT count(*) AS n FROM nodes),
deg AS (SELECT a, count(*) AS deg FROM edges GROUP BY a),
r0 AS (SELECT doc_id, 1.0 / (SELECT n FROM nn) AS pr FROM nodes),{",".join(x[1:] for x in rounds)}
SELECT doc_id, round(pr, 6) AS pr FROM r{PR_ROUNDS} ORDER BY doc_id
"""


# --- label propagation communities ------------------------------------------

LPA_ROUNDS = 3


def q_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synchronous label propagation (Raghavan, Albert & Kumara 2007)
    over the UNDIRECTED gram-sharing provenance graph: every node
    starts labeled with its own doc_id; each round it adopts the modal
    label among its neighbors PLUS itself, ties broken toward the
    smaller label — the deterministic variant (plain LPA breaks ties
    randomly, which no oracle can replay). Communities are a coarser,
    cheaper grouping signal than connected components when near-dup
    galaxies are chained through weak bridges: LPA stops label bleed
    at sparse cuts instead of flooding the whole component.

    Scale shape: each round is ONE edges→labels hash join + one
    (node, label) count aggregate + one per-node top-1 window — the
    same per-round cost as q_provenance_rank, lazily unrolled for
    LPA_ROUNDS with the same checkpoint-every-~10-rounds recipe at
    real iteration counts. The self-vote rides the label frame
    (unionByName — no extra scan); isolated documents therefore keep
    their own label without a left join. Integer-only state: no float
    portability concerns."""
    from pyspark.sql.window import Window

    d = documents(spark, sf_dir)
    dir_e = _gram_edges(d)
    edges = dir_e.unionByName(
        dir_e.select(F.col("b").alias("a"), F.col("a").alias("b"))
    ).distinct().cache()  # reused every round; checkpoint table at scale
    lab = d.select("doc_id", F.col("doc_id").alias("label"))
    for _ in range(LPA_ROUNDS):
        nbr = edges.join(
            lab.select(F.col("doc_id").alias("b"), "label"), "b"
        ).select("a", "label")
        votes = nbr.unionByName(
            lab.select(F.col("doc_id").alias("a"), "label")
        )
        cnt = votes.groupBy("a", "label").agg(F.count("*").alias("cnt"))
        w = Window.partitionBy("a").orderBy(F.desc("cnt"), "label")
        lab = (
            cnt.withColumn("rk", F.row_number().over(w))
            .where(F.col("rk") == 1)
            .select(F.col("a").alias("doc_id"), "label")
        )
    return lab.orderBy("doc_id")


def _lpa_cte_prefix() -> str:
    """The shared CTE chain: gram edges + LPA_ROUNDS unrolled label
    rounds; final labels live in l{LPA_ROUNDS}. Used by the LPA oracle
    and by the modularity oracle (which scores those communities)."""
    rounds = []
    prev = "l0"
    for k in range(LPA_ROUNDS):
        rounds.append(f"""
l{k + 1} AS (
  SELECT a AS doc_id, label FROM (
    SELECT a, label,
           row_number() OVER (PARTITION BY a ORDER BY cnt DESC, label) AS rk
    FROM (
      SELECT a, label, count(*) AS cnt FROM (
        SELECT e.a, p.label FROM edges e JOIN {prev} p ON p.doc_id = e.b
        UNION ALL SELECT doc_id AS a, label FROM {prev}
      ) GROUP BY a, label
    )
  ) WHERE rk = 1
)""")
        prev = f"l{k + 1}"
    return f"""grams AS ({_GRAMS_SQL}),
first AS (SELECT g, min(doc_id) AS src FROM grams GROUP BY g),
de AS (SELECT DISTINCT gr.doc_id AS a, f.src AS b
       FROM grams gr JOIN first f USING (g) WHERE gr.doc_id != f.src),
edges AS (SELECT a, b FROM de UNION SELECT b, a FROM de),
l0 AS (SELECT doc_id, doc_id AS label FROM documents),{",".join(x[1:] for x in rounds)}"""


def _lpa_sql() -> str:
    return f"""
WITH {_lpa_cte_prefix()}
SELECT doc_id, label FROM l{LPA_ROUNDS} ORDER BY doc_id
"""


# --- degree assortativity ------------------------------------------------------


def q_degree_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity (Newman 2002) of the gram-sharing graph —
    do high-degree documents connect to each other (duplicate-farm
    cliques, r > 0) or to low-degree satellites (hub-and-spoke
    scrapers, r < 0)? Completes the graph-health panel beside the
    triangle census and modularity.

    r is the Pearson correlation of endpoint degrees over the 2m
    ordered edge pairs: r = (M·S_jk − S_j²) / (M·S_jj − S_j²). Every
    statistic is an EXACT integer; the numerator and denominator are
    emitted as decimal(38,0) DIGIT STRINGS (M·S_jk brushes int64 at
    sf0.1 and the engines disagree on negative integer-division
    semantics — truncate vs floor — so the division is left to the
    reader, the honest canonical form).

    Scale shape: canonical edges once (inverted-index class), one
    degree aggregate, two deg join-backs, ONE total-sum aggregate —
    O(|E|) flat."""
    edges = _undirected(_gram_edges(documents(spark, sf_dir)))
    ordered = edges.unionByName(
        edges.select(F.col("b").alias("a"), F.col("a").alias("b"))
    )
    deg = (
        ordered.groupBy("a").agg(F.count("*").alias("deg"))
    )
    pairs = (
        ordered.join(deg.withColumnRenamed("a", "a_"), F.col("a") == F.col("a_"))
        .withColumnRenamed("deg", "dj")
        .drop("a_")
        .join(deg.withColumnRenamed("a", "b_").withColumnRenamed("deg", "dk"),
              F.col("b") == F.col("b_"))
        .drop("b_")
    )
    sums = pairs.agg(
        F.count("*").cast("long").alias("m_ordered"),
        F.sum(F.col("dj") * F.col("dk")).cast("long").alias("s_jk"),
        F.sum("dj").cast("long").alias("s_j"),
        F.sum(F.col("dj") * F.col("dj")).cast("long").alias("s_jj"),
    )
    num = (
        F.col("m_ordered").cast("decimal(38,0)")
        * F.col("s_jk").cast("decimal(38,0)")
        - F.col("s_j").cast("decimal(38,0)")
        * F.col("s_j").cast("decimal(38,0)")
    )
    den = (
        F.col("m_ordered").cast("decimal(38,0)")
        * F.col("s_jj").cast("decimal(38,0)")
        - F.col("s_j").cast("decimal(38,0)")
        * F.col("s_j").cast("decimal(38,0)")
    )
    return sums.select(
        "m_ordered",
        "s_jk",
        "s_j",
        "s_jj",
        num.cast("string").alias("r_num"),
        den.cast("string").alias("r_den"),
    )


def _assortativity_sql() -> str:
    return f"""
WITH g AS ({_grams_sql()}),
first_occ AS (SELECT g, min(doc_id) AS src FROM g GROUP BY g),
de AS (
  SELECT DISTINCT doc_id AS x, src AS y
  FROM g JOIN first_occ USING (g) WHERE doc_id != src
),
edges AS (SELECT DISTINCT least(x, y) AS a, greatest(x, y) AS b FROM de),
ordered AS (
  SELECT a, b FROM edges UNION ALL SELECT b AS a, a AS b FROM edges
),
deg AS (SELECT a, count(*) AS deg FROM ordered GROUP BY a),
pairs AS (
  SELECT dj.deg AS dj, dk.deg AS dk
  FROM ordered o
  JOIN deg dj ON dj.a = o.a
  JOIN deg dk ON dk.a = o.b
),
sums AS (
  SELECT CAST(count(*) AS BIGINT) AS m_ordered,
         CAST(sum(dj * dk) AS BIGINT) AS s_jk,
         CAST(sum(dj) AS BIGINT) AS s_j,
         CAST(sum(dj * dj) AS BIGINT) AS s_jj
  FROM pairs
)
SELECT m_ordered, s_jk, s_j, s_jj,
       CAST(CAST(m_ordered AS HUGEINT) * s_jk
            - CAST(s_j AS HUGEINT) * s_j AS VARCHAR) AS r_num,
       CAST(CAST(m_ordered AS HUGEINT) * s_jj
            - CAST(s_j AS HUGEINT) * s_j AS VARCHAR) AS r_den
FROM sums
"""


# --- audio chunking plan -----------------------------------------------------

AUDIO_CHUNK_MS = 30_000  # Whisper-style 30 s windows
AUDIO_HOP_MS = 25_000    # 5 s overlap between consecutive chunks


def q_audio_chunk_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio chunking plan — the metadata half of an ASR ingest
    stage: per synthesized audio asset (duration_ms derived
    deterministically from the doc — 10 s..10 min, skewed like real
    podcast corpora), emit the overlapping CHUNK/HOP windows a
    Whisper-style transcriber consumes: chunk_idx, start_ms, end_ms
    (clamped to the asset), plus is_last. Chunk count =
    1 + ceil(max(0, dur − CHUNK)/HOP) — the standard sliding-window
    formula, pinned against unnest/sequence on both engines.

    The DECODE half is the multimodal module's injectable-codec
    mapInPandas stage (honest sandbox boundary, same as frame
    sampling); THIS query is the part that must be exact and
    plannable: a narrow sequence-explode, zero shuffles, payload
    column never touched (Catalyst prunes it — at 100 TB of audio
    the plan reads only the metadata struct)."""
    d = table(spark, sf_dir, "documents")
    dur = (F.lit(10_000) + (F.col("doc_id") * F.lit(7919)) % F.lit(590_001)).cast(
        "long"
    )
    media = d.select(
        F.col("doc_id").cast("string").alias("media_id"),
        dur.alias("duration_ms"),
    )
    n_chunks = (
        F.lit(1)
        + F.ceil(
            F.greatest(
                F.col("duration_ms") - AUDIO_CHUNK_MS, F.lit(0)
            )
            / F.lit(AUDIO_HOP_MS)
        )
    ).cast("int")
    return (
        media.select(
            "media_id",
            "duration_ms",
            F.posexplode(
                F.transform(
                    F.sequence(F.lit(0), n_chunks - 1),
                    lambda i: F.struct(
                        (i.cast("long") * AUDIO_HOP_MS).alias("start_ms"),
                        F.least(
                            i.cast("long") * AUDIO_HOP_MS + AUDIO_CHUNK_MS,
                            F.col("duration_ms"),
                        ).alias("end_ms"),
                    ),
                )
            ).alias("chunk_idx", "c"),
        )
        .select(
            "media_id",
            "duration_ms",
            F.col("chunk_idx").cast("int").alias("chunk_idx"),
            F.col("c.start_ms").alias("start_ms"),
            F.col("c.end_ms").alias("end_ms"),
            (F.col("c.end_ms") == F.col("duration_ms")).alias("is_last"),
        )
        .orderBy("media_id", "chunk_idx")
    )


_AUDIO_CHUNK_SQL = f"""
WITH media AS (
  SELECT CAST(doc_id AS VARCHAR) AS media_id,
         CAST(10000 + (doc_id * 7919) % 590001 AS BIGINT) AS duration_ms
  FROM documents
),
planned AS (
  SELECT media_id, duration_ms,
         CAST(u.i AS INT) AS chunk_idx,
         CAST(u.i * {AUDIO_HOP_MS} AS BIGINT) AS start_ms,
         CAST(least(u.i * {AUDIO_HOP_MS} + {AUDIO_CHUNK_MS}, duration_ms)
              AS BIGINT) AS end_ms
  FROM media,
       unnest(range(1 + CAST(ceil(greatest(duration_ms - {AUDIO_CHUNK_MS}, 0)
                                  / {AUDIO_HOP_MS}.0) AS BIGINT))) AS u(i)
)
SELECT media_id, duration_ms, chunk_idx, start_ms, end_ms,
       end_ms = duration_ms AS is_last
FROM planned
ORDER BY media_id, chunk_idx
"""


# --- language-ID confusion matrix ------------------------------------------------


def q_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-EVALUATION view of the n-gram language classifier: the
    confusion matrix over the held-out slice, each cell carrying its
    count plus the per-class recall share (cell ÷ gold-row total) and
    precision share (cell ÷ predicted-column total) in integer ppm —
    the evaluation artifact a classifier change is reviewed against,
    computed in the engine rather than exported to a notebook.

    Scale shape: inherits the audited langid plan, then TWO tiny
    class-keyed aggregates (rows ≤ langs²) joined back — evaluation
    costs nothing beyond the classifier itself. Integer-ppm division
    on positive operands is floor-identical in both engines."""
    preds = q_langid_ngram(spark, sf_dir)
    cm = preds.groupBy("true_lang", "pred_lang").agg(
        F.count("*").alias("n")
    )
    row_tot = cm.groupBy("true_lang").agg(F.sum("n").alias("gold_n"))
    col_tot = cm.groupBy("pred_lang").agg(F.sum("n").alias("pred_n"))
    return (
        cm.join(row_tot, "true_lang")
        .join(col_tot, "pred_lang")
        .select(
            "true_lang",
            "pred_lang",
            "n",
            F.expr("n * 1000000 div gold_n").alias("recall_ppm"),
            F.expr("n * 1000000 div pred_n").alias("precision_ppm"),
        )
        .orderBy("true_lang", "pred_lang")
    )


def _langid_confusion_sql() -> str:
    return f"""
WITH preds AS ({_LANGID_SQL}),
cm AS (
  SELECT true_lang, pred_lang, count(*) AS n
  FROM preds GROUP BY true_lang, pred_lang
),
row_tot AS (SELECT true_lang, sum(n) AS gold_n FROM cm GROUP BY true_lang),
col_tot AS (SELECT pred_lang, sum(n) AS pred_n FROM cm GROUP BY pred_lang)
SELECT true_lang, pred_lang, n,
       CAST(n * 1000000 // gold_n AS BIGINT) AS recall_ppm,
       CAST(n * 1000000 // pred_n AS BIGINT) AS precision_ppm
FROM cm JOIN row_tot USING (true_lang) JOIN col_tot USING (pred_lang)
ORDER BY true_lang, pred_lang
"""


# --- image tiling plan ---------------------------------------------------------

TILE_PX = 224   # ViT-style tile size
TILE_STRIDE = 192  # 32 px overlap between neighboring tiles


def q_image_tile_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D image TILING plan — the vision sibling of the audio
    chunking plan: per synthesized image asset (width/height derived
    deterministically from doc_id, portrait and landscape both
    present), the grid of TILE_PX×TILE_PX crops at TILE_STRIDE that a
    high-resolution ViT ingest feeds the encoder, with edge tiles
    clamped to the image and flagged. rows = 1 + ceil(max(0, h −
    TILE)/STRIDE), same for cols — the sliding-window count formula
    in both dimensions.

    Scale shape: one metadata-column scan → a narrow 2-D sequence
    explode (transform × flatten); the pixel payload never enters the
    plan. Decode/crop itself stays behind the multimodal module's
    injectable-codec seam."""
    d = table(spark, sf_dir, "documents")
    w = (F.lit(512) + (F.col("doc_id") * 13) % F.lit(1537)).cast("int")
    h = (F.lit(384) + (F.col("doc_id") * 29) % F.lit(1153)).cast("int")
    media = d.select(
        F.col("doc_id").cast("string").alias("media_id"),
        w.alias("width"),
        h.alias("height"),
    )
    n_rows = (
        F.lit(1)
        + F.ceil(
            F.greatest(F.col("height") - TILE_PX, F.lit(0))
            / F.lit(TILE_STRIDE)
        )
    ).cast("int")
    n_cols = (
        F.lit(1)
        + F.ceil(
            F.greatest(F.col("width") - TILE_PX, F.lit(0))
            / F.lit(TILE_STRIDE)
        )
    ).cast("int")
    tiles = F.flatten(
        F.transform(
            F.sequence(F.lit(0), n_rows - 1),
            lambda r: F.transform(
                F.sequence(F.lit(0), n_cols - 1),
                lambda c: F.struct(
                    r.cast("int").alias("tile_row"),
                    c.cast("int").alias("tile_col"),
                    (c * TILE_STRIDE).cast("int").alias("x0"),
                    (r * TILE_STRIDE).cast("int").alias("y0"),
                    F.least(
                        c * TILE_STRIDE + TILE_PX, F.col("width")
                    ).cast("int").alias("x1"),
                    F.least(
                        r * TILE_STRIDE + TILE_PX, F.col("height")
                    ).cast("int").alias("y1"),
                ),
            ),
        )
    )
    return (
        media.select(
            "media_id", "width", "height", F.explode(tiles).alias("t")
        )
        .select(
            "media_id",
            "width",
            "height",
            F.col("t.tile_row").alias("tile_row"),
            F.col("t.tile_col").alias("tile_col"),
            F.col("t.x0").alias("x0"),
            F.col("t.y0").alias("y0"),
            F.col("t.x1").alias("x1"),
            F.col("t.y1").alias("y1"),
            (
                (F.col("t.x1") - F.col("t.x0") < TILE_PX)
                | (F.col("t.y1") - F.col("t.y0") < TILE_PX)
            ).alias("is_edge"),
        )
        .orderBy("media_id", "tile_row", "tile_col")
    )


_IMAGE_TILE_SQL = f"""
WITH media AS (
  SELECT CAST(doc_id AS VARCHAR) AS media_id,
         CAST(512 + (doc_id * 13) % 1537 AS INT) AS width,
         CAST(384 + (doc_id * 29) % 1153 AS INT) AS height
  FROM documents
),
grid AS (
  SELECT media_id, width, height,
         CAST(r.i AS INT) AS tile_row, CAST(c.i AS INT) AS tile_col
  FROM media,
       LATERAL (SELECT unnest(range(
         1 + CAST(ceil(greatest(height - {TILE_PX}, 0)
                       / {TILE_STRIDE}.0) AS BIGINT))) AS i) r,
       LATERAL (SELECT unnest(range(
         1 + CAST(ceil(greatest(width - {TILE_PX}, 0)
                       / {TILE_STRIDE}.0) AS BIGINT))) AS i) c
)
SELECT media_id, width, height, tile_row, tile_col,
       CAST(tile_col * {TILE_STRIDE} AS INT) AS x0,
       CAST(tile_row * {TILE_STRIDE} AS INT) AS y0,
       CAST(least(tile_col * {TILE_STRIDE} + {TILE_PX}, width) AS INT) AS x1,
       CAST(least(tile_row * {TILE_STRIDE} + {TILE_PX}, height) AS INT) AS y1,
       (least(tile_col * {TILE_STRIDE} + {TILE_PX}, width)
          - tile_col * {TILE_STRIDE} < {TILE_PX})
       OR (least(tile_row * {TILE_STRIDE} + {TILE_PX}, height)
          - tile_row * {TILE_STRIDE} < {TILE_PX}) AS is_edge
FROM grid
ORDER BY media_id, tile_row, tile_col
"""


# --- community modularity ----------------------------------------------------


def q_community_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman modularity of the LPA communities over the gram-sharing
    graph — the quality score that says whether the detected
    communities are real structure or noise, per community and in
    EXACT INTEGER arithmetic: Q = Σ_c (e_c/m − (d_c/2m)²), scaled by
    4m² so every contribution is the integer 4·m·e_c − d_c² (no float
    ever crosses an aggregation; Q itself = sum(q_contrib)/(4m²) for
    the reader). Emits per community: member count (degree ≥ 1
    members — isolated docs contribute nothing to Q and are
    excluded), intra-community edge count, total degree, and the
    integer contribution.

    Scale shape: communities come from the audited LPA rounds; the
    scoring pass is two label hash-joins onto the canonical edge
    list + two keyed aggregates + a 1-row m broadcast — O(|E|) after
    the LPA cost it inherits, no new iteration."""
    lab = q_label_propagation(spark, sf_dir).select(
        "doc_id", F.col("label").alias("community")
    )
    edges = _undirected(
        _gram_edges(documents(spark, sf_dir))
    ).cache()  # reused: m, degrees, intra join
    m1 = edges.agg(F.count("*").alias("m"))
    deg = (
        edges.select(F.col("a").alias("doc_id"))
        .unionByName(edges.select(F.col("b").alias("doc_id")))
        .groupBy("doc_id")
        .agg(F.count("*").alias("deg"))
    )
    node_comm = deg.join(lab, "doc_id")
    dc = node_comm.groupBy("community").agg(
        F.count("*").alias("n_members"),
        F.sum("deg").cast("long").alias("d_total"),
    )
    la = lab.select(F.col("doc_id").alias("a"), F.col("community").alias("ca"))
    lb = lab.select(F.col("doc_id").alias("b"), F.col("community").alias("cb"))
    ec = (
        edges.join(la, "a")
        .join(lb, "b")
        .where(F.col("ca") == F.col("cb"))
        .groupBy(F.col("ca").alias("community"))
        .agg(F.count("*").alias("e_intra"))
    )
    return (
        dc.join(ec, "community", "left")
        .crossJoin(F.broadcast(m1))
        .select(
            "community",
            "n_members",
            F.coalesce("e_intra", F.lit(0)).cast("long").alias("e_intra"),
            "d_total",
            (
                F.lit(4) * F.col("m") * F.coalesce("e_intra", F.lit(0))
                - F.col("d_total") * F.col("d_total")
            )
            .cast("long")
            .alias("q_contrib_4m2"),
        )
        .orderBy("community")
    )


def _modularity_sql() -> str:
    return f"""
WITH {_lpa_cte_prefix()},
lab AS (SELECT doc_id, label AS community FROM l{LPA_ROUNDS}),
canon AS (
  SELECT DISTINCT least(x, y) AS a, greatest(x, y) AS b
  FROM (SELECT a AS x, b AS y FROM de)
),
m1 AS (SELECT count(*) AS m FROM canon),
deg AS (
  SELECT doc_id, count(*) AS deg FROM (
    SELECT a AS doc_id FROM canon UNION ALL SELECT b FROM canon
  ) GROUP BY doc_id
),
dc AS (
  SELECT community, count(*) AS n_members,
         CAST(sum(deg) AS BIGINT) AS d_total
  FROM deg JOIN lab USING (doc_id) GROUP BY community
),
ec AS (
  SELECT la.community, count(*) AS e_intra
  FROM canon
  JOIN lab la ON la.doc_id = canon.a
  JOIN lab lb ON lb.doc_id = canon.b
  WHERE la.community = lb.community
  GROUP BY la.community
)
SELECT dc.community, dc.n_members,
       CAST(coalesce(ec.e_intra, 0) AS BIGINT) AS e_intra,
       dc.d_total,
       CAST(4 * m1.m * coalesce(ec.e_intra, 0)
            - dc.d_total * dc.d_total AS BIGINT) AS q_contrib_4m2
FROM dc LEFT JOIN ec USING (community) CROSS JOIN m1
ORDER BY dc.community
"""


# --- triangle census ---------------------------------------------------------


def q_triangle_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle census of the gram-sharing graph: triangle count,
    wedge (open 2-path) count, and the global clustering coefficient
    3·triangles / wedges — the standard graph-health signal that
    separates tight duplicate cliques (coefficient → 1) from loose
    hub-and-spoke contamination (→ 0). Complements the component /
    community / PageRank views with local density.

    Scale shape: edges are canonicalized a<b, so each triangle is
    enumerated exactly once by the two-hop join e1(a,b)⋈e2(b,c)⋈
    e3(a,c) — three hash equi-joins on single keys, never an
    all-pairs product; at real scale the standard degree-orientation
    refinement (orient toward the higher-degree endpoint) bounds the
    join fan-out by the arboricity instead of max degree — stated.
    Wedges come from ONE degree aggregate; every count is an integer
    (the single rounded division happens on two already-final
    scalars)."""
    d = documents(spark, sf_dir)
    edges = _undirected(_gram_edges(d)).cache()  # reused by degree + 3 joins
    n1 = d.agg(F.count("*").alias("n_nodes"))
    ne = edges.agg(F.count("*").alias("n_edges"))
    deg = (
        edges.select(F.col("a").alias("n"))
        .unionByName(edges.select(F.col("b").alias("n")))
        .groupBy("n")
        .agg(F.count("*").alias("deg"))
    )
    nw = deg.agg(
        (F.sum(F.col("deg") * (F.col("deg") - 1)) / 2)
        .cast("bigint")
        .alias("n_wedges")
    )
    e1 = edges
    e2 = edges.select(F.col("a").alias("b"), F.col("b").alias("c"))
    e3 = edges.select(F.col("a").alias("a2"), F.col("b").alias("c2"))
    tri = (
        e1.join(e2, "b")
        .join(
            e3,
            (F.col("a") == F.col("a2")) & (F.col("c") == F.col("c2")),
        )
        .agg(F.count("*").alias("n_triangles"))
    )
    coeff = F.when(
        F.col("n_wedges") > 0,
        F.round(3.0 * F.col("n_triangles") / F.col("n_wedges"), 6),
    )
    return (
        n1.crossJoin(F.broadcast(ne))
        .crossJoin(F.broadcast(nw))
        .crossJoin(F.broadcast(tri))
        .select(
            "n_nodes", "n_edges", "n_wedges", "n_triangles",
            coeff.alias("clustering_coeff"),
        )
    )


_TRIANGLE_SQL = f"""
WITH grams AS ({_GRAMS_SQL}),
first AS (SELECT g, min(doc_id) AS src FROM grams GROUP BY g),
de AS (SELECT DISTINCT gr.doc_id AS x, f.src AS y
       FROM grams gr JOIN first f USING (g) WHERE gr.doc_id != f.src),
edges AS (SELECT DISTINCT least(x, y) AS a, greatest(x, y) AS b FROM de),
n1 AS (SELECT count(*) AS n_nodes FROM documents),
ne AS (SELECT count(*) AS n_edges FROM edges),
deg AS (SELECT n, count(*) AS deg FROM (
          SELECT a AS n FROM edges UNION ALL SELECT b AS n FROM edges
        ) GROUP BY n),
nw AS (SELECT CAST(sum(deg * (deg - 1)) / 2 AS BIGINT) AS n_wedges FROM deg),
tri AS (
  SELECT count(*) AS n_triangles
  FROM edges e1
  JOIN edges e2 ON e2.a = e1.b
  JOIN edges e3 ON e3.a = e1.a AND e3.b = e2.b
)
SELECT n_nodes, n_edges, n_wedges, n_triangles,
       CASE WHEN n_wedges > 0
            THEN round(3.0 * n_triangles / n_wedges, 6) END AS clustering_coeff
FROM n1, ne, nw, tri
"""


# --- k-core decomposition ----------------------------------------------------

KCORE_K = 2        # core order: survivors have ≥ K neighbors among
                   # survivors — the "dense nucleus" cut used to
                   # separate duplicate galaxies from leaf-and-bridge
                   # contamination structure
KCORE_NGRAM = 4    # words per sharing gram — shorter than DECON_NGRAM
                   # on purpose: the 8-word contamination graph is
                   # near-tree-sparse (its 2-core is empty at sf0.01),
                   # while 4-word grams give a graph whose core is a
                   # real nucleus, not a vacuous answer
KCORE_ROUNDS = 10  # unrolled peel rounds — reaches the true fixpoint
                   # at both test scales (8 and 10 rounds incl. the
                   # confirming no-change round); production iterates
                   # with the connected-components convergence guard


def q_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-core of the gram-sharing graph (Seidman 1983 / Batagelj-
    Zaversnik peeling): repeatedly delete nodes with fewer than K
    surviving neighbors; what remains is the maximal subgraph of
    minimum degree K. On a provenance graph the 2-core isolates
    mutually-entangled duplicate clusters from the long tail of
    leaf docs that merely touch one canonical source — a sharper
    "contamination nucleus" cut than components (which flood across
    bridges) and cheaper than triangles.

    Scale shape: each peel round is ONE degree aggregate (map-side
    combinable count over the edge list's two endpoint projections)
    + two semi-joins of the edge list against the ≥K-degree node
    set — all hash joins on single integer keys, never all-pairs;
    each round references the previous edge frame three times, so
    rounds are materialized per round (reliable checkpoint when a
    dir is configured, localCheckpoint otherwise — the
    connected-components contract) instead of lazily unrolled; on
    real graphs peeling converges in few rounds because each round
    removes whole degree-layers at once. Integer-only state.

    Output: surviving doc_id + its degree inside the final core."""
    edges = _undirected(
        _gram_edges(documents(spark, sf_dir), KCORE_NGRAM)
    ).cache()  # reused every round; checkpoint table at scale

    def degrees(e: DataFrame) -> DataFrame:
        return (
            e.select(F.col("a").alias("n"))
            .unionByName(e.select(F.col("b").alias("n")))
            .groupBy("n")
            .agg(F.count("*").alias("deg"))
        )

    # each round references the previous edge frame THREE times (two
    # degree projections + the semi-join left side), so the lazily
    # unrolled plan grows 3^rounds — materialize per round instead
    # (reliable checkpoint when a dir is configured, else local; the
    # same contract as connected_components)
    from ocr_intern_spark.operators.dedup import _round_checkpoint

    cur = edges
    for _ in range(KCORE_ROUNDS):
        keep = degrees(cur).where(F.col("deg") >= KCORE_K).select("n")
        cur = _round_checkpoint(
            cur.join(
                keep.select(F.col("n").alias("a")), "a", "left_semi"
            ).join(keep.select(F.col("n").alias("b")), "b", "left_semi")
        )
    return (
        degrees(cur)
        .select(F.col("n").alias("doc_id"), F.col("deg").alias("core_deg"))
        .orderBy("doc_id")
    )


def _kcore_sql() -> str:
    rounds = []
    prev = "e0"
    for k in range(KCORE_ROUNDS):
        # MATERIALIZED is load-bearing: each round references the
        # previous round three times, and DuckDB would otherwise
        # inline the chain into 3^rounds copies of the base scan
        rounds.append(f"""
keep{k} AS MATERIALIZED (
  SELECT n FROM (
    SELECT n, count(*) AS deg FROM (
      SELECT a AS n FROM {prev} UNION ALL SELECT b AS n FROM {prev}
    ) GROUP BY n
  ) WHERE deg >= {KCORE_K}
),
e{k + 1} AS MATERIALIZED (
  SELECT e.a, e.b FROM {prev} e
  WHERE e.a IN (SELECT n FROM keep{k}) AND e.b IN (SELECT n FROM keep{k})
)""")
        prev = f"e{k + 1}"
    return f"""
WITH grams AS MATERIALIZED ({_grams_sql(KCORE_NGRAM)}),
first AS (SELECT g, min(doc_id) AS src FROM grams GROUP BY g),
de AS (SELECT DISTINCT gr.doc_id AS x, f.src AS y
       FROM grams gr JOIN first f USING (g) WHERE gr.doc_id != f.src),
e0 AS MATERIALIZED (SELECT DISTINCT least(x, y) AS a, greatest(x, y) AS b FROM de),{",".join(x[1:] for x in rounds)}
SELECT n AS doc_id, CAST(count(*) AS BIGINT) AS core_deg FROM (
  SELECT a AS n FROM e{KCORE_ROUNDS} UNION ALL SELECT b AS n FROM e{KCORE_ROUNDS}
) GROUP BY n ORDER BY doc_id
"""


# --- source-mix drift diagnostics ---------------------------------------------


def q_source_kl_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source unigram KL divergence from the corpus-wide token
    distribution, in bits — the descriptive counterpart of DSIR
    importance weighting: a source whose KL spikes relative to the
    rest of the mix is drifting (crawler scope change, template rot,
    language bleed) and the mix weights built on last month's corpus
    no longer describe it. KL(s‖corpus) = Σ_t p_s(t)·log2(p_s/p_c).

    Scale shape: the corpus collapses ONCE to the (source, token)
    count table (one explode, one map-side-combinable HashAggregate)
    and is CACHED; corpus token counts, per-source totals and the
    grand total all derive from that vocabulary×sources-sized frame —
    raw text is scanned exactly once. Both baseline joins broadcast
    vocab-/sources-sized sides; the final per-source sum aggregates
    ≤vocab terms per source.

    Portability: counts are exact integers; each KL term is a double
    product/ln over integer-cast doubles (IEEE-identical in both
    engines), and the ≤vocab-term float sum's reassociation error
    (~1e-13) is absorbed by the 1e-6 round — the q_unigram_logprob
    contract. Terms with c_st=0 contribute 0 by definition and never
    materialize (inner join)."""
    from pyspark.sql.window import Window

    d = documents(spark, sf_dir)
    toks = d.select(
        "source",
        F.explode(words(F.lower(F.col("text")))).alias("t"),
    ).where(F.length("t") > 0)
    st = toks.groupBy("source", "t").agg(F.count("*").alias("c")).cache()
    corpus = st.groupBy("t").agg(F.sum("c").alias("ct"))
    tot = st.agg(F.sum("c").alias("n"))
    dbl = lambda c: F.col(c).cast("double")  # noqa: E731
    term = (dbl("c") / dbl("ns")) * F.log(
        (dbl("c") * dbl("n")) / (dbl("ns") * dbl("ct"))
    )
    per_src = st.withColumn(
        "ns", F.sum("c").over(Window.partitionBy("source"))
    )
    return (
        per_src.join(F.broadcast(corpus), "t")
        .crossJoin(F.broadcast(tot))
        .groupBy("source")
        .agg(
            F.sum("c").alias("n_tokens"),
            F.count("*").alias("vocab_size"),
            F.round(F.sum(term) / F.log(F.lit(2.0)), 6).alias("kl_bits"),
        )
        .orderBy("source")
    )


_KL_DRIFT_SQL = """
WITH toks AS (
  SELECT source, t FROM (
    SELECT source,
           unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS t
    FROM documents
  ) WHERE length(t) > 0
),
st AS (SELECT source, t, count(*) AS c FROM toks GROUP BY 1, 2),
corpus AS (SELECT t, CAST(sum(c) AS BIGINT) AS ct FROM st GROUP BY t),
tot AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM st),
per AS (SELECT *, sum(c) OVER (PARTITION BY source) AS ns FROM st)
SELECT source, CAST(sum(c) AS BIGINT) AS n_tokens,
       CAST(count(*) AS BIGINT) AS vocab_size,
       round(sum((CAST(c AS DOUBLE) / CAST(ns AS DOUBLE))
                 * ln((CAST(c AS DOUBLE) * CAST(n AS DOUBLE))
                      / (CAST(ns AS DOUBLE) * CAST(ct AS DOUBLE))))
             / ln(2), 6) AS kl_bits
FROM per JOIN corpus USING (t) CROSS JOIN tot
GROUP BY source ORDER BY source
"""

OVERLAP_NGRAM = 2  # bigrams: the unigram vocabulary is fully shared
                   # across sources at every sf (Jaccard ≡ 1.0 —
                   # vacuous), while bigram sets differ per source


def q_source_vocab_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise source-vocabulary Jaccard matrix over distinct word
    bigrams — the corpus-composition overlap report: near-1 cells
    mean two "sources" are the same crawl twice (merge or down-weight
    them); near-0 cells are genuinely complementary domains. The
    descriptive input to mix design, next to q_source_mix_weights.

    Scale shape: the corpus collapses to the distinct (source, gram)
    set (one explode + distinct — map-side partials); intersections
    come from an inverted-index self-join on the gram key whose
    per-gram fan-out is bounded by n_sources² (sources are hundreds,
    not billions — never all-pairs over docs); set sizes come from
    one more agg over the same frame, broadcast both ways onto the
    sources²-row pair table. Pairs with EMPTY intersection do not
    appear (inner join) — absent row = disjoint vocabularies.

    Portability: pure integer set algebra; the single float division
    is rounded to 1e-6."""
    d = documents(spark, sf_dir)
    toks = words(F.lower(F.col("text")))
    grams = word_ngrams(toks, OVERLAP_NGRAM)
    sg = (
        d.where(F.size(toks) >= OVERLAP_NGRAM)
        .select("source", F.explode(F.array_distinct(grams)).alias("g"))
        .distinct()
        .cache()
    )
    sizes = sg.groupBy("source").agg(F.count("*").alias("sz"))
    inter = (
        sg.alias("a")
        .join(sg.alias("b"), "g")
        .where(F.col("a.source") < F.col("b.source"))
        .groupBy(
            F.col("a.source").alias("source_a"),
            F.col("b.source").alias("source_b"),
        )
        .agg(F.count("*").alias("n_inter"))
    )
    sa = sizes.select(F.col("source").alias("source_a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col("source").alias("source_b"), F.col("sz").alias("sz_b"))
    return (
        inter.join(F.broadcast(sa), "source_a")
        .join(F.broadcast(sb), "source_b")
        .select(
            "source_a",
            "source_b",
            "n_inter",
            (F.col("sz_a") + F.col("sz_b") - F.col("n_inter")).alias("n_union"),
            F.round(
                F.col("n_inter")
                / (F.col("sz_a") + F.col("sz_b") - F.col("n_inter")),
                6,
            ).alias("jaccard"),
        )
        .orderBy("source_a", "source_b")
    )


_VOCAB_OVERLAP_SQL = f"""
WITH sg AS MATERIALIZED (
  SELECT DISTINCT source, g FROM (
    SELECT source, unnest(list_distinct(
             list_transform(range(0, len(toks) - {OVERLAP_NGRAM} + 1),
                            i -> array_to_string(list_slice(toks, i + 1, i + {OVERLAP_NGRAM}), ' '))
           )) AS g
    FROM (
      SELECT source, regexp_split_to_array(trim(lower(text)), '\\s+') AS toks
      FROM documents
    ) WHERE len(toks) >= {OVERLAP_NGRAM}
  )
),
sizes AS (SELECT source, count(*) AS sz FROM sg GROUP BY source),
inter AS (
  SELECT a.source AS source_a, b.source AS source_b,
         CAST(count(*) AS BIGINT) AS n_inter
  FROM sg a JOIN sg b USING (g) WHERE a.source < b.source
  GROUP BY 1, 2
)
SELECT source_a, source_b, n_inter,
       CAST(sa.sz + sb.sz - n_inter AS BIGINT) AS n_union,
       round(CAST(n_inter AS DOUBLE) / (sa.sz + sb.sz - n_inter), 6)
         AS jaccard
FROM inter
JOIN sizes sa ON sa.source = source_a
JOIN sizes sb ON sb.source = source_b
ORDER BY source_a, source_b
"""


# --- CCNet/RefinedWeb-style boilerplate line removal -------------------------

LINE_W = 6            # words per "line" unit (the synthetic corpus has
                      # no newlines, so fixed 6-word segments stand in
                      # for the paragraph/line unit CCNet hashes)
BOILER_MIN_DOCS = 3   # a line occurring in >= this many distinct docs
                      # is boilerplate and removed EVERYWHERE (vs
                      # span_dedup, which keeps the first occurrence —
                      # nav bars / cookie banners have no meaningful
                      # "first" document)


def q_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequency-threshold boilerplate line removal (CCNet, Wenzek et
    al. 2020 §3.1 paragraph-hash dedup; RefinedWeb, Penedo et al. 2023
    line-level filtering): the corpus is segmented into non-overlapping
    LINE_W-word lines; any line whose text occurs in >= BOILER_MIN_DOCS
    distinct documents is dropped from EVERY document (headers, nav
    bars, cookie banners — content where keeping a "first occurrence"
    is wrong, which is exactly how this differs from q_span_dedup's
    C4 keep-first rule). Surviving lines are reassembled in order.

    Output per doc: (n_lines, n_kept, clean_text).

    Scale shape: the document-frequency count is a two-level
    aggregation — distinct (line, doc_id) first (map-side combinable;
    a line repeated inside one huge doc collapses locally), then a
    count per line. The verdict frame is one row per distinct line;
    the join back is on the line STRING (no 64-bit collision risk,
    same rule as decontamination), and a billion-doc boilerplate line
    is still ONE verdict row — the hot key rides the broadcast-able
    side, never a window. Reassembly is one doc_id exchange."""
    d = documents(spark, sf_dir).where(F.length(F.trim("text")) > 0)
    toks = words(F.lower(F.col("text")))
    nseg = ((F.size(toks) - 1) / LINE_W).cast("int") + 1
    segs = F.transform(
        F.sequence(F.lit(0), nseg - 1),
        lambda i: F.struct(
            i.cast("int").alias("pos"),
            F.array_join(
                F.slice(toks, i * LINE_W + 1, LINE_W), " "
            ).alias("line"),
        ),
    )
    s = d.select("doc_id", F.explode(segs).alias("u")).select(
        "doc_id", F.col("u.pos").alias("pos"), F.col("u.line").alias("line")
    )
    df_per_line = (
        s.select("line", "doc_id")
        .distinct()
        .groupBy("line")
        .agg(F.count(F.lit(1)).alias("ndocs"))
    )
    keep = F.col("ndocs") < BOILER_MIN_DOCS
    return (
        s.join(df_per_line, "line")
        .select("doc_id", "pos", "line", keep.alias("keep"))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.sum(F.col("keep").cast("bigint")).alias("n_kept"),
            F.array_join(
                F.transform(
                    F.filter(
                        F.array_sort(
                            F.collect_list(F.struct("pos", "line", "keep"))
                        ),
                        lambda u: u["keep"],
                    ),
                    lambda u: u["line"],
                ),
                " ",
            ).alias("clean_text"),
        )
        .orderBy("doc_id")
    )


_LINE_DEDUP_SQL = f"""
WITH base AS (
  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS toks
  FROM documents WHERE length(trim(text)) > 0
),
segs AS (
  SELECT doc_id, i AS pos,
         array_to_string(
           list_slice(toks, i * {LINE_W} + 1, i * {LINE_W} + {LINE_W}), ' '
         ) AS line
  FROM base,
       LATERAL (SELECT unnest(range(0, (len(toks) - 1) // {LINE_W} + 1)) AS i)
),
freq AS (
  SELECT line, count(DISTINCT doc_id) AS ndocs FROM segs GROUP BY line
)
SELECT s.doc_id,
       CAST(count(*) AS BIGINT) AS n_lines,
       CAST(sum(CASE WHEN f.ndocs < {BOILER_MIN_DOCS} THEN 1 ELSE 0 END)
            AS BIGINT) AS n_kept,
       coalesce(string_agg(
         CASE WHEN f.ndocs < {BOILER_MIN_DOCS} THEN s.line END,
         ' ' ORDER BY s.pos), '') AS clean_text
FROM segs s JOIN freq f USING (line)
GROUP BY s.doc_id ORDER BY s.doc_id
"""


# --- RefinedWeb-style per-source document quota ------------------------------

CAP_K = 12  # documents kept per source


def q_source_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source document quota (the RefinedWeb / Dolma source-
    balancing pass: cap any one domain's contribution so a single
    crawler-friendly site cannot dominate the mix): keep the CAP_K
    best documents of each source, ranked (quality DESC, n_chars
    DESC, doc_id ASC) — a total order, so the cut is deterministic.
    On the synthetic corpus the quality heuristic collapses to one
    band for most docs and length is the effective secondary signal;
    the shape under test is the per-group top-K itself.

    Scale shape: the rank<=K filter on a row_number window is
    rewritten by Spark into WindowGroupLimit (per-partition top-K
    heaps BEFORE the source exchange — plan-pinned in
    test_session6_ops.py), so a source with a billion docs moves at
    most K rows per map partition into the shuffle, not the whole
    group."""
    d = documents(spark, sf_dir)
    q = F.round(quality_score(F.col("text")), 6)
    w = Window.partitionBy("source").orderBy(
        F.desc("quality"), F.desc("n_chars"), F.asc("doc_id")
    )
    return (
        d.select("source", "doc_id", "n_chars", q.alias("quality"))
        .withColumn("rk", F.row_number().over(w).cast("bigint"))
        .where(F.col("rk") <= CAP_K)
        .select("source", "doc_id", "quality", "rk")
        .orderBy("source", "rk")
    )


_SOURCE_CAP_SQL = f"""
WITH q AS ({_QUALITY_SQL}),
ranked AS (
  SELECT d.source, q.doc_id, q.quality,
         row_number() OVER (
           PARTITION BY d.source
           ORDER BY q.quality DESC, d.n_chars DESC, q.doc_id
         ) AS rk
  FROM q JOIN documents d USING (doc_id)
)
SELECT source, doc_id, quality, CAST(rk AS BIGINT) AS rk
FROM ranked WHERE rk <= {CAP_K}
ORDER BY source, rk
"""


# --- PII detection + masking -------------------------------------------------

# Deliberately simple, dialect-portable patterns (no lookaround, no \b):
# the same character-class regexes run under Java regex (Spark) and RE2
# (DuckDB) with identical match semantics. Production pipelines (Dolma,
# CCNet) use exactly this class of rule-based scrubbing before training.
PII_EMAIL_RE = r"[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}"
PII_PHONE_RE = r"\+\d{2}-\d{3}-\d{4}"
PII_IP_RE = r"\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}"


def _pii_probe_spark() -> "F.Column":
    """Deterministic PII injection from doc_id (the repo's
    probe-injection pattern): the synthetic soup carries no PII, so
    each doc_id%4 class gets a known payload appended — two emails,
    one phone, one IP, or NOTHING (the clean class is the
    false-positive guard). The DETECTOR sees only the text column."""
    did = F.col("doc_id")
    mod4 = did % 4
    suffix = (
        F.when(
            mod4 == 0,
            F.concat(
                F.lit(" mail user"), did.cast("string"),
                F.lit("@example.com and admin@test.org now"),
            ),
        )
        .when(
            mod4 == 1,
            F.concat(
                F.lit(" call +12-345-"),
                F.lpad((did % 10000).cast("string"), 4, "0"),
                F.lit(" today"),
            ),
        )
        .when(
            mod4 == 2,
            F.concat(
                F.lit(" from 10."), (did % 256).cast("string"),
                F.lit("."), (did % 7).cast("string"),
                F.lit("."), (did % 13).cast("string"), F.lit(" gateway"),
            ),
        )
        .otherwise(F.lit(""))
    )
    return F.concat(F.trim(F.lower(F.col("text"))), suffix)


def q_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rule-based PII scrubbing (the masking stage every released
    web-scale corpus runs — e.g. Dolma's email/phone/IP rules,
    Soldaini et al. 2024 §2): detect emails, phone numbers, and IPv4
    addresses, replace each with a typed mask token, and report
    per-document counts plus the md5 of the scrubbed text so the
    redaction itself (not just the counts) is hash-pinned
    cross-engine.

    Redaction order is fixed (email → phone → IP) so a masked span
    can never be re-matched by a later pattern.

    Scale shape: one narrow per-row projection — regexp_count ×3 and
    a chained regexp_replace inside whole-stage codegen, zero
    shuffles before the final presentation sort. At 100 TB this is a
    pure map stage; the counts aggregate (if wanted per-source)
    would be map-side combinable."""
    d = documents(spark, sf_dir)
    probe = _pii_probe_spark()
    redacted = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(probe, PII_EMAIL_RE, "<EMAIL>"),
            PII_PHONE_RE,
            "<PHONE>",
        ),
        PII_IP_RE,
        "<IP>",
    )
    return (
        d.select(
            "doc_id",
            F.regexp_count(probe, F.lit(PII_EMAIL_RE)).cast("int").alias("n_email"),
            F.regexp_count(probe, F.lit(PII_PHONE_RE)).cast("int").alias("n_phone"),
            F.regexp_count(probe, F.lit(PII_IP_RE)).cast("int").alias("n_ip"),
            F.md5(redacted).alias("redacted_md5"),
        )
        .orderBy("doc_id")
    )


def _pii_sql() -> str:
    probe = f"""trim(lower(text)) || CASE CAST(doc_id % 4 AS INT)
      WHEN 0 THEN ' mail user' || CAST(doc_id AS VARCHAR)
                  || '@example.com and admin@test.org now'
      WHEN 1 THEN ' call +12-345-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                  || ' today'
      WHEN 2 THEN ' from 10.' || CAST(doc_id % 256 AS VARCHAR)
                  || '.' || CAST(doc_id % 7 AS VARCHAR)
                  || '.' || CAST(doc_id % 13 AS VARCHAR) || ' gateway'
      ELSE '' END"""
    return f"""
WITH p AS (SELECT doc_id, {probe} AS probe FROM documents)
SELECT doc_id,
       CAST(len(regexp_extract_all(probe, '{PII_EMAIL_RE}')) AS INT) AS n_email,
       CAST(len(regexp_extract_all(probe, '{PII_PHONE_RE}')) AS INT) AS n_phone,
       CAST(len(regexp_extract_all(probe, '{PII_IP_RE}')) AS INT) AS n_ip,
       md5(regexp_replace(regexp_replace(regexp_replace(probe,
           '{PII_EMAIL_RE}', '<EMAIL>', 'g'),
           '{PII_PHONE_RE}', '<PHONE>', 'g'),
           '{PII_IP_RE}', '<IP>', 'g')) AS redacted_md5
FROM p ORDER BY doc_id
"""


# --- canonical-URL dedup ------------------------------------------------------

# URL normalization ahead of content dedup — the FIRST dedup stage of
# every CC-derived pipeline (CCNet, RefinedWeb §3.2 "URL deduplication"):
# scheme/host case, default ports, www., duplicate slashes, trailing
# slash, tracking params, and fragments all collapse before hashing.
URL_SITES = 5  # synthetic hosts example0..example4 — forces collisions


def q_url_canonicalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical-URL exact dedup: each doc carries one synthesized URL
    (six deterministic messiness variants from doc_id%6 — uppercase
    host + default port, utm_* tracking params, http default port +
    fragment, mixed params, already-canonical, duplicate slashes);
    the normalizer lowercases host, strips www./default ports/
    fragments/trailing slashes, collapses //, and drops utm_* params
    while KEEPING meaningful ones (id=7) — then groups by canonical
    URL, keeping the smallest doc_id (CC-pipeline keeper rule).

    Scale shape: parse + normalize is one narrow codegen projection;
    the dedup is a single hash aggregate on the canonical string
    (map-side combinable). At 100 TB this replaces content-level
    dedup for the ~40% of crawl duplicates that are URL-identical —
    the cheapest shuffle in the pipeline, and it runs first."""
    d = documents(spark, sf_dir)
    toks = words(F.lower(F.col("text")))
    w = F.coalesce(F.try_element_at(toks, F.lit(1)), F.lit("x"))
    k = (F.col("doc_id") % URL_SITES).cast("string")
    v = (F.col("doc_id") % 6).cast("int")
    url = (
        F.when(v == 0, F.concat(F.lit("https://WWW.Example"), k,
                                F.lit(".COM:443/path/"), w, F.lit("/")))
        .when(v == 1, F.concat(F.lit("https://www.example"), k,
                               F.lit(".com/path/"), w,
                               F.lit("?utm_source=x&utm_campaign=y")))
        .when(v == 2, F.concat(F.lit("http://example"), k,
                               F.lit(".com:80/path/"), w, F.lit("#frag")))
        .when(v == 3, F.concat(F.lit("https://example"), k,
                               F.lit(".com/path/"), w,
                               F.lit("?id=7&utm_medium=z")))
        .when(v == 4, F.concat(F.lit("https://www.example"), k,
                               F.lit(".com/path/"), w))
        .otherwise(F.concat(F.lit("https://example"), k,
                            F.lit(".com//path//"), w))
    )
    scheme = F.lower(F.regexp_extract(url, r"^(https?)://", 1))
    host0 = F.lower(F.regexp_extract(url, r"^https?://([^/?#]+)", 1))
    host = F.regexp_replace(
        F.regexp_replace(host0, r"^www\.", ""),
        r":(443|80)$",
        "",
    )
    # NOTE: stripping :443 is only correct for https and :80 for http;
    # the synthetic variants never cross them, and the conditional
    # form would be when(scheme=='https', strip ':443$') — kept simple
    # and identical in the oracle.
    path0 = F.regexp_replace(
        F.regexp_extract(url, r"^https?://[^/?#]+([^?#]*)", 1),
        r"/{2,}",
        "/",
    )
    path1 = F.regexp_replace(path0, r"/$", "")
    path = F.when(path1 == "", F.lit("/")).otherwise(path1)
    q0 = F.regexp_extract(url, r"\?([^#]*)", 1)
    qkeep = F.array_join(
        F.filter(F.split(q0, "&"), lambda x: ~x.startswith("utm_")), "&"
    )
    canonical = F.concat(
        scheme, F.lit("://"), host, path,
        F.when(qkeep == "", F.lit("")).otherwise(F.concat(F.lit("?"), qkeep)),
    )
    return (
        d.select(F.col("doc_id"), canonical.alias("canonical_url"))
        .groupBy("canonical_url")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.min("doc_id").alias("keeper_doc_id"),
        )
        .orderBy("canonical_url")
    )


def _url_sql() -> str:
    return f"""
WITH d AS (
  SELECT doc_id,
         coalesce(regexp_split_to_array(trim(lower(text)), '\\s+')[1], 'x') AS w,
         CAST(doc_id % {URL_SITES} AS VARCHAR) AS k,
         CAST(doc_id % 6 AS INT) AS v
  FROM documents
),
u AS (
  SELECT doc_id, CASE v
    WHEN 0 THEN 'https://WWW.Example' || k || '.COM:443/path/' || w || '/'
    WHEN 1 THEN 'https://www.example' || k || '.com/path/' || w
                || '?utm_source=x&utm_campaign=y'
    WHEN 2 THEN 'http://example' || k || '.com:80/path/' || w || '#frag'
    WHEN 3 THEN 'https://example' || k || '.com/path/' || w || '?id=7&utm_medium=z'
    WHEN 4 THEN 'https://www.example' || k || '.com/path/' || w
    ELSE 'https://example' || k || '.com//path//' || w END AS url
  FROM d
),
parts AS (
  SELECT doc_id,
         lower(regexp_extract(url, '^(https?)://', 1)) AS scheme,
         regexp_replace(regexp_replace(
           lower(regexp_extract(url, '^https?://([^/?#]+)', 1)),
           '^www\\.', ''), ':(443|80)$', '') AS host,
         regexp_replace(regexp_replace(
           regexp_extract(url, '^https?://[^/?#]+([^?#]*)', 1),
           '/{{2,}}', '/', 'g'), '/$', '') AS path1,
         -- array_to_string over an EMPTY filtered list is NULL in
         -- DuckDB where Spark's array_join gives '' — coalesce to
         -- keep the all-params-dropped case identical
         coalesce(array_to_string(list_filter(
           string_split(regexp_extract(url, '\\?([^#]*)', 1), '&'),
           x -> NOT starts_with(x, 'utm_')), '&'), '') AS qkeep
  FROM u
),
canon AS (
  SELECT doc_id,
         scheme || '://' || host
         || CASE WHEN path1 = '' THEN '/' ELSE path1 END
         || CASE WHEN qkeep = '' THEN '' ELSE '?' || qkeep END AS canonical_url
  FROM parts
)
SELECT canonical_url, CAST(count(*) AS BIGINT) AS n_docs,
       min(doc_id) AS keeper_doc_id
FROM canon GROUP BY canonical_url ORDER BY canonical_url
"""


# --- interleaved media-text curation filter ----------------------------------

ILF_MAX_MEDIA = 3       # cap on images kept per document
ILF_MIN_GAP = 2         # min token positions from the PREVIOUS media span
                        # (kept or dropped; position 0 for the first), so a
                        # stack of adjacent images keeps at most its head
ILF_MIN_TOK_PER_IMG = 4  # doc must carry >= this many tokens per kept image


def q_interleave_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OBELICS/MMC4-style interleaved document curation (Laurençon et
    al. 2023 §3.3; Zhu et al. 2023): multimodal pretraining docs are
    kept only when their image/text interleave is healthy — images
    too close together are dropped (ILF_MIN_GAP tokens between
    consecutive media), at most ILF_MAX_MEDIA images survive per doc,
    and the doc itself survives only with >= 1 kept image and >=
    ILF_MIN_TOK_PER_IMG text tokens per kept image (text-starved
    image stacks are the classic interleave failure mode).

    Media synthesis (both engines identically): doc_id % 5 media
    spans at irregular modular token positions ((doc_id+1)·(j+1)) mod
    (n+1) — adjacent media collide into sub-gap stacks on many docs,
    which is exactly what the gap rule must catch; m == 0 docs
    exercise the no-image drop (all five rule branches fire at
    sf0.001, pinned in tests/test_web_curation.py).

    Scale shape: the gap test is one lag window inside the
    hashpartitioning(doc_id) exchange — media spans never leave their
    doc's partition — and the per-doc rollup reuses that exchange
    (doc_id is the grouping prefix). One shuffle end to end, exactly
    the plan this filter needs over the real spans array at 100 TB."""
    d = documents(spark, sf_dir).where(F.length(F.trim("text")) > 0)
    toks = F.slice(words(F.col("text")), 1, 24)
    n = F.size(toks)
    m = (F.col("doc_id") % 5).cast("int")
    positions = F.when(
        m > 0,
        F.transform(
            F.sequence(F.lit(0), m - 1),
            lambda j: ((F.col("doc_id") + 1) * (j + 1) % (n + 1)).cast("int"),
        ),
    ).otherwise(F.array().cast("array<int>"))
    media = d.select(
        "doc_id",
        n.alias("n_tokens"),
        m.alias("n_media"),
        F.posexplode_outer(positions).alias("j", "pos"),
    )
    w = Window.partitionBy("doc_id").orderBy("pos", "j")
    gap = F.col("pos") - F.coalesce(F.lag("pos").over(w), F.lit(0))
    keep = (gap >= ILF_MIN_GAP) & (F.col("j") < ILF_MAX_MEDIA)
    return (
        media.withColumn("keep", keep)
        .groupBy("doc_id", "n_tokens", "n_media")
        .agg(
            F.coalesce(
                F.sum(F.col("keep").cast("int")), F.lit(0)
            ).cast("int").alias("n_media_kept")
        )
        .select(
            "doc_id",
            "n_tokens",
            "n_media",
            "n_media_kept",
            (
                (F.col("n_media_kept") >= 1)
                & (
                    F.col("n_tokens")
                    >= ILF_MIN_TOK_PER_IMG * F.col("n_media_kept")
                )
            ).alias("doc_keep"),
        )
        .orderBy("doc_id")
    )


_INTERLEAVE_FILTER_SQL = f"""
WITH base AS (
  SELECT doc_id,
         len(list_slice(regexp_split_to_array(trim(text), '\\s+'), 1, 24)) AS n,
         CAST(doc_id % 5 AS INT) AS m
  FROM documents WHERE length(trim(text)) > 0
),
media AS (
  SELECT doc_id, n, m, CAST(j AS INT) AS j,
         CAST(((doc_id + 1) * (j + 1)) % (n + 1) AS INT) AS pos
  FROM base, LATERAL (SELECT unnest(range(0, m)) AS j)
),
g AS (
  SELECT doc_id, j, pos,
         pos - coalesce(lag(pos) OVER (PARTITION BY doc_id ORDER BY pos, j), 0)
           AS gap
  FROM media
),
agg AS (
  SELECT doc_id,
         CAST(sum(CASE WHEN gap >= {ILF_MIN_GAP} AND j < {ILF_MAX_MEDIA}
                       THEN 1 ELSE 0 END) AS INT) AS n_media_kept
  FROM g GROUP BY doc_id
)
SELECT b.doc_id, CAST(b.n AS INT) AS n_tokens, b.m AS n_media,
       coalesce(a.n_media_kept, 0) AS n_media_kept,
       (coalesce(a.n_media_kept, 0) >= 1
        AND b.n >= {ILF_MIN_TOK_PER_IMG} * coalesce(a.n_media_kept, 0))
         AS doc_keep
FROM base b LEFT JOIN agg a USING (doc_id)
ORDER BY doc_id
"""


# --- temperature-scaled multilingual sampling allocation ---------------------

SAMPLE_ALPHA_BUDGET = 1000  # docs to allocate across languages
# α = 0.5 exactly — p^α is then sqrt(), which is IEEE-correctly-rounded
# in BOTH engines (pow(x, 0.3) is not guaranteed bit-identical across
# libm implementations; sqrt is). The α=0.5 temperature is in the
# published range (XLM-R uses 0.3, mBERT 0.7).


def q_sample_alpha(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled multilingual sampling allocation (Conneau et
    al. 2020 §3.1 / Devlin 2019): languages are sampled ∝ p^α instead
    of ∝ p so low-resource languages are up-weighted; the budget is
    apportioned by the largest-remainder (Hamilton) method so the
    integer allocations sum EXACTLY to the budget.

    Exactness: sqrt(n)·10⁶ is floored to BIGINT once per language;
    every subsequent step (total, base = budget·sqi DIV total,
    remainder, leftover, rank) is integer arithmetic — the whole
    apportionment is bit-exact cross-engine with no float sums
    anywhere.

    Scale shape: one map-side-combinable count per language, then
    windows over the ≤#langs-row language frame. At a 10¹²-doc corpus
    the per-language frame is still dozens of rows — the allocation
    is free; the count is the only fact pass."""
    per = documents(spark, sf_dir).groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    # bounded-window: frame is the per-LANGUAGE table (≤ dozens of rows)
    w_all = Window.orderBy("lang").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    b = (
        per.withColumn(
            "sqi", F.floor(F.sqrt(F.col("n_docs")) * 1e6).cast("long")
        )
        .withColumn("tot", F.sum("sqi").over(w_all))
        .withColumn("num", F.lit(SAMPLE_ALPHA_BUDGET) * F.col("sqi"))
        .withColumn("base", F.expr("num DIV tot"))
        .withColumn("rem", F.expr("num % tot"))
        .withColumn("sb", F.sum("base").over(w_all))
    )
    # bounded-window: rank over the same ≤#langs-row frame
    w_rank = Window.orderBy(F.desc("rem"), F.asc("lang"))
    return (
        b.withColumn("rk", F.row_number().over(w_rank))
        .select(
            "lang",
            "n_docs",
            (
                F.col("base")
                + F.when(
                    F.col("rk") <= F.lit(SAMPLE_ALPHA_BUDGET) - F.col("sb"), 1
                ).otherwise(0)
            ).alias("sample_alloc"),
        )
        .orderBy("lang")
    )


_SAMPLE_ALPHA_SQL = f"""
WITH per AS (SELECT lang, count(*) AS n_docs FROM documents GROUP BY lang),
s AS (SELECT lang, n_docs,
             CAST(floor(sqrt(n_docs) * 1e6) AS BIGINT) AS sqi FROM per),
t AS (SELECT *, CAST(sum(sqi) OVER () AS BIGINT) AS tot FROM s),
b AS (SELECT *, ({SAMPLE_ALPHA_BUDGET} * sqi) // tot AS base,
               ({SAMPLE_ALPHA_BUDGET} * sqi) % tot AS rem FROM t),
r AS (SELECT *, row_number() OVER (ORDER BY rem DESC, lang) AS rk,
               CAST(sum(base) OVER () AS BIGINT) AS sb FROM b)
SELECT lang, n_docs,
       base + CASE WHEN rk <= {SAMPLE_ALPHA_BUDGET} - sb THEN 1 ELSE 0 END
         AS sample_alloc
FROM r ORDER BY lang
"""


# --- anchor-text aggregation over the synthetic outlink graph ------------

ANCHOR_SITES = 50  # synthetic target hosts site0..site49


def q_anchor_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anchor-text aggregation (the web-graph doc-expansion primitive:
    a target page is described by the anchor text of its in-links —
    how search engines and link-spam filters summarize a host). Each
    doc emits 1 + doc_id%3 outlinks; link j carries anchor text =
    word j+1 of the doc and targets host
    site{(doc_id*7 + 13*len(anchor)) % ANCHOR_SITES}.com — the host
    depends on the anchor's length, so two same-length anchors in one
    doc produce parallel edges to one host (in_degree > distinct
    sources: the multi-edge case an anchor aggregator must count
    correctly). Per target host: in-degree, distinct linking docs,
    distinct anchor terms, and the dominant anchor under the total
    tie-break (highest count, then lexicographically smallest term).

    Scale shape: the edge list is a narrow explode (≤3 edges/doc, no
    data motion); the (host, anchor) counts and the host rollup are
    both map-side-combinable hash aggregates, and the dominant anchor
    is min(struct(-n, anchor)) over the per-host anchor frame — an
    ordinary combinable aggregate, no window, no sort. Distinct
    linking docs needs its own (host, doc) distinct pass — kept as a
    second aggregation tree over the same edge projection (two narrow
    scans beat caching a 2·10^12-row edge list); the final host-level
    join is ANCHOR_SITES rows, broadcast. At web scale this is
    exactly the anchor-corpus build: 10^12 edges hash-aggregated to
    ~10^8 hosts with no per-host sort anywhere."""
    d = documents(spark, sf_dir)
    toks = words(F.lower(F.col("text")))
    edges = d.select(
        "doc_id",
        toks.alias("toks"),
        F.explode(
            F.sequence(F.lit(0), (F.col("doc_id") % 3).cast("int"))
        ).alias("j"),
    ).select(
        "doc_id",
        F.coalesce(
            F.try_element_at("toks", (F.col("j") + F.lit(1)).cast("int")),
            F.lit("x"),
        ).alias("anchor"),
    ).select(
        "doc_id",
        F.concat(
            F.lit("site"),
            (
                (F.col("doc_id") * 7 + F.length("anchor") * 13)
                % ANCHOR_SITES
            ).cast("string"),
            F.lit(".com"),
        ).alias("host"),
        "anchor",
    )
    per_anchor = edges.groupBy("host", "anchor").agg(
        F.count("*").alias("n")
    )
    hosts = per_anchor.groupBy("host").agg(
        F.sum("n").cast("bigint").alias("in_degree"),
        F.count("*").alias("n_anchor_terms"),
        F.min(F.struct((-F.col("n")).alias("neg"), F.col("anchor")))[
            "anchor"
        ].alias("top_anchor"),
        F.max("n").cast("bigint").alias("top_anchor_n"),
    )
    sources = (
        edges.select("host", "doc_id")
        .distinct()
        .groupBy("host")
        .agg(F.count("*").alias("n_sources"))
    )
    return (
        hosts.join(F.broadcast(sources), "host")
        .select(
            "host",
            "in_degree",
            "n_sources",
            "n_anchor_terms",
            "top_anchor",
            "top_anchor_n",
        )
        .orderBy("host")
    )


_ANCHOR_GRAPH_SQL = f"""
WITH edges0 AS (
  SELECT d.doc_id,
         coalesce(
           regexp_split_to_array(trim(lower(d.text)), '\\s+')
             [CAST(t.j + 1 AS INT)],
           'x') AS anchor
  FROM documents d, unnest(range(0, (d.doc_id % 3) + 1)) AS t(j)
),
edges AS (
  SELECT doc_id,
         'site' || CAST((doc_id * 7 + 13 * length(anchor))
                        % {ANCHOR_SITES} AS VARCHAR) || '.com' AS host,
         anchor
  FROM edges0
),
per_anchor AS (
  SELECT host, anchor, count(*) AS n
  FROM edges
  GROUP BY host, anchor
),
hosts AS (
  SELECT host,
         CAST(sum(n) AS BIGINT) AS in_degree,
         count(*) AS n_anchor_terms,
         CAST(max(n) AS BIGINT) AS top_anchor_n
  FROM per_anchor
  GROUP BY host
),
top AS (
  SELECT host, anchor AS top_anchor
  FROM (
    SELECT host, anchor,
           row_number() OVER (
             PARTITION BY host ORDER BY n DESC, anchor ASC
           ) AS rn
    FROM per_anchor
  )
  WHERE rn = 1
),
sources AS (
  SELECT host, count(DISTINCT doc_id) AS n_sources
  FROM edges
  GROUP BY host
)
SELECT h.host, h.in_degree, s.n_sources, h.n_anchor_terms,
       t.top_anchor, h.top_anchor_n
FROM hosts h
JOIN top t ON h.host = t.host
JOIN sources s ON h.host = s.host
ORDER BY h.host
"""


# --- HITS hubs & authorities over the provenance digraph --------------------


def q_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS (Kleinberg 1999) over the content-provenance digraph
    (doc → first corpus occurrence of each shared 8-gram, the same
    edge set as q_provenance_rank): authorities are canonical source
    documents pointed at by many content reusers; hubs are documents
    that aggregate content from many distinct sources — the "scraper
    / mashup page" signal a curation pass DOWN-weights, complementary
    to PageRank's source ranking.

    Two full hub/authority rounds in EXACT INTEGER arithmetic (the
    unnormalized iterates: auth1 = in-degree, hub1 = Σ auth1 over
    out-edges, auth2 = Σ hub1 over in-edges, hub2 = Σ auth2 —
    normalization only rescales, the RANKING is identical), so the
    DuckDB oracle agrees bit-for-bit with no float-portability
    quantum. Sums are cast to BIGINT on both engines (the
    decimal/HUGEINT rendering discipline).

    Scale shape: the gram → first-doc map is one hash aggregate;
    edges are the distinct attribution pairs (inverted-index class);
    each HITS half-round is ONE edges⋈scores hash join + one keyed
    hash aggregate — identical plan shape to a PageRank round, O(|E|)
    per round, cached edge table reused four times (checkpoint table
    at real scale)."""
    edges = _gram_edges(
        documents(spark, sf_dir)
    ).cache()  # reused by 4 half-rounds; checkpoint table at scale
    auth1 = edges.groupBy("b").agg(F.count("*").cast("long").alias("auth1"))
    hub1 = (
        edges.join(auth1, "b")
        .groupBy("a")
        .agg(F.sum("auth1").cast("long").alias("hub1"))
    )
    auth2 = (
        edges.join(hub1, "a")
        .groupBy("b")
        .agg(F.sum("hub1").cast("long").alias("auth2"))
    )
    hub2 = (
        edges.join(auth2, "b")
        .groupBy("a")
        .agg(F.sum("auth2").cast("long").alias("hub2"))
    )
    nodes = (
        edges.select(F.col("a").alias("doc_id"))
        .unionByName(edges.select(F.col("b").alias("doc_id")))
        .distinct()
    )
    return (
        nodes.join(auth1.withColumnRenamed("b", "doc_id"), "doc_id", "left")
        .join(hub1.withColumnRenamed("a", "doc_id"), "doc_id", "left")
        .join(auth2.withColumnRenamed("b", "doc_id"), "doc_id", "left")
        .join(hub2.withColumnRenamed("a", "doc_id"), "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("auth1", F.lit(0)).cast("long").alias("auth1"),
            F.coalesce("hub1", F.lit(0)).cast("long").alias("hub1"),
            F.coalesce("auth2", F.lit(0)).cast("long").alias("auth2"),
            F.coalesce("hub2", F.lit(0)).cast("long").alias("hub2"),
        )
        .orderBy("doc_id")
    )


def _hits_sql() -> str:
    return f"""
WITH g AS ({_grams_sql()}),
first_occ AS (SELECT g, min(doc_id) AS src FROM g GROUP BY g),
edges AS (
  SELECT DISTINCT doc_id AS a, src AS b
  FROM g JOIN first_occ USING (g) WHERE doc_id != src
),
auth1 AS (SELECT b, CAST(count(*) AS BIGINT) AS auth1 FROM edges GROUP BY b),
hub1 AS (
  SELECT a, CAST(sum(auth1) AS BIGINT) AS hub1
  FROM edges JOIN auth1 USING (b) GROUP BY a
),
auth2 AS (
  SELECT b, CAST(sum(hub1) AS BIGINT) AS auth2
  FROM edges JOIN hub1 USING (a) GROUP BY b
),
hub2 AS (
  SELECT a, CAST(sum(auth2) AS BIGINT) AS hub2
  FROM edges JOIN auth2 USING (b) GROUP BY a
),
nodes AS (
  SELECT a AS doc_id FROM edges UNION SELECT b FROM edges
)
SELECT doc_id,
       CAST(coalesce(a1.auth1, 0) AS BIGINT) AS auth1,
       CAST(coalesce(h1.hub1, 0) AS BIGINT) AS hub1,
       CAST(coalesce(a2.auth2, 0) AS BIGINT) AS auth2,
       CAST(coalesce(h2.hub2, 0) AS BIGINT) AS hub2
FROM nodes
LEFT JOIN auth1 a1 ON a1.b = doc_id
LEFT JOIN hub1 h1 ON h1.a = doc_id
LEFT JOIN auth2 a2 ON a2.b = doc_id
LEFT JOIN hub2 h2 ON h2.a = doc_id
ORDER BY doc_id
"""


def q_curation_skyline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-curation SKYLINE — the (cost, quality) pareto front of
    the documents table: docs for which no other doc is at least as
    clean AND at least as cheap with one strict. This is the curation
    trade every data-mix owner walks (keep the highest-quality docs
    the token budget affords); the skyline is exactly the set of
    undominated budget choices.

    Quality = alpha-character ratio in integer ppm (A-Za-z chars ·
    10^6 DIV text length, zero-guarded — graded, unlike the coarse
    0/0.25/0.5 composite score). Cost = whitespace token count,
    minimized by maximizing its negation (skew.pareto_front maximizes
    both axes). Engine path is the second consumer of
    skew.pareto_front (after pareto_customers): per-x group max →
    range-partitioned two-pass strict running max → semi-join; NO
    unbounded window, no all-pairs compare. The oracle is the
    textbook quadratic NOT EXISTS dominance predicate — hash
    equality certifies the distributed decomposition, the same proof
    shape as the salted-agg and LSH-swap certificates.

    Scale: pass 1 is a map-side-combinable agg on quality_ppm
    (≤ 10^6 + 1 distinct values — the skyline pass input is bounded
    by the ppm domain, not the corpus); only a P-row partition
    summary crosses the broadcast boundary."""
    from ocr_intern_spark.operators.skew import pareto_front

    d = documents(spark, sf_dir)
    pts = d.select(
        "doc_id",
        F.when(F.length("text") == 0, F.lit(0))
        .otherwise(
            F.expr(
                "length(regexp_replace(text, '[^A-Za-z]', '')) * 1000000 "
                "DIV length(text)"
            )
        )
        .cast("long")
        .alias("quality_ppm"),
        (-token_count(F.col("text")).cast("long")).alias("neg_toks"),
    )
    return (
        pareto_front(pts, "quality_ppm", "neg_toks")
        .select(
            "doc_id",
            "quality_ppm",
            (-F.col("neg_toks")).alias("n_tokens"),
        )
        .orderBy("doc_id")
    )


_CURATION_SKYLINE_SQL = """
WITH pts AS (
  SELECT doc_id,
         CASE WHEN length(text) = 0 THEN 0
              ELSE length(regexp_replace(text, '[^A-Za-z]', '', 'g'))
                   * 1000000 // length(text) END AS quality_ppm,
         CASE WHEN length(trim(text)) = 0 THEN 0
              ELSE len(regexp_split_to_array(trim(text), '\\s+')) END
           AS n_tokens
  FROM documents
)
SELECT doc_id, quality_ppm, n_tokens
FROM pts p
WHERE NOT EXISTS (
  SELECT 1 FROM pts q
  WHERE q.quality_ppm >= p.quality_ppm AND q.n_tokens <= p.n_tokens
    AND (q.quality_ppm > p.quality_ppm OR q.n_tokens < p.n_tokens)
)
ORDER BY doc_id
"""


QUERIES = {
    "text_decontaminate_flags": (q_decontaminate_flags, _DECON_SQL),
    "text_curation_skyline": (q_curation_skyline, _CURATION_SKYLINE_SQL),
    "text_sample_alpha": (q_sample_alpha, _SAMPLE_ALPHA_SQL),
    "text_source_kl_drift": (q_source_kl_drift, _KL_DRIFT_SQL),
    "text_source_vocab_overlap": (q_source_vocab_overlap, _VOCAB_OVERLAP_SQL),
    "graph_kcore": (q_kcore, _kcore_sql()),
    "graph_provenance_rank": (q_provenance_rank, _provenance_sql()),
    "graph_label_propagation": (q_label_propagation, _lpa_sql()),
    "graph_triangle_stats": (q_triangle_stats, _TRIANGLE_SQL),
    "text_quality_classifier": (q_quality_classifier, _qc_sql()),
    "text_dsir_select": (q_dsir_select, _dsir_sql()),
    "text_span_dedup": (q_span_dedup, _SPAN_DEDUP_SQL),
    "text_substr_dedup": (q_substr_dedup, _SUBSTR_DEDUP_SQL),
    "text_mix_resample": (q_mix_resample, _MIX_RESAMPLE_SQL),
    "text_novelty_score": (q_novelty_score, _NOVELTY_SQL),
    "text_source_mix_weights": (q_source_mix_weights, _MIX_SQL),
    "multimodal_interleaved_pack": (q_interleaved_pack, _INTERLEAVED_SQL),
    "multimodal_frame_sample": (q_frame_sample, _FRAME_SAMPLE_SQL),
    "multimodal_scene_cuts": (q_scene_cuts, _SCENE_CUTS_SQL),
    # content-level ground-truth oracle: hash equality proves the
    # 4x16 Hamming banding found every exact dup, nothing spurious
    "multimodal_phash_band_neardup": (q_phash_band_neardup, _PHBAND_SQL),
    "multimodal_phash_dedup": (q_phash_dedup, _PHASH_DEDUP_SQL),
    "multimodal_caption_align": (q_caption_align, _CAPTION_ALIGN_SQL),
    "text_contrastive_views": (q_contrastive_views, _CONTRASTIVE_SQL),
    "multimodal_modality_balance": (q_modality_balance, _MODALITY_BALANCE_SQL),
    "text_rouge_neardup_audit": (q_rouge_neardup_audit, _ROUGE_NEARDUP_SQL),
    "text_langid_ngram": (q_langid_ngram, _LANGID_SQL),
    "text_line_dedup": (q_line_dedup, _LINE_DEDUP_SQL),
    "text_source_cap": (q_source_cap, _SOURCE_CAP_SQL),
    "text_pii_redact": (q_pii_redact, _pii_sql()),
    "dedup_url_canonical": (q_url_canonicalize, _url_sql()),
    "multimodal_interleave_filter": (
        q_interleave_filter,
        _INTERLEAVE_FILTER_SQL,
    ),
    "graph_anchor_text": (q_anchor_graph, _ANCHOR_GRAPH_SQL),
    "graph_hits": (q_hits, _hits_sql()),
    "graph_community_modularity": (
        q_community_modularity,
        _modularity_sql(),
    ),
    "multimodal_audio_chunk_plan": (q_audio_chunk_plan, _AUDIO_CHUNK_SQL),
    "multimodal_image_tile_plan": (q_image_tile_plan, _IMAGE_TILE_SQL),
    "graph_degree_assortativity": (
        q_degree_assortativity,
        _assortativity_sql(),
    ),
    "text_langid_confusion": (q_langid_confusion, _langid_confusion_sql()),
}
