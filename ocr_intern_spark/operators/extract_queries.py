"""SQL-expressible slices of the extraction semantics, as
oracle-checked queries over the driver's `documents` testdata table.

These pin the NATIVE-expression implementations (doc-type cascade,
field normalizers, reading-order sort) against an independent ANSI-SQL
oracle in DuckDB — complementing the pytest golden suite, which pins
the full pipeline (incl. the non-SQL media/OCR path) against the
pure-Python oracle.

The testdata `documents.text` is keyword-free word soup, so keyword/
field inputs are INJECTED deterministically from doc_id / custkey
arithmetic — identical expressions on both engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ocr_intern_spark.functions.normalizers import (
    ACCENTED,
    UNACCENTED,
    classify_doc_type,
    normalize_field,
)
from ocr_intern_spark.functions.text import token_count, words
from ocr_intern_spark.sources.tables import documents, table


# --- A1 doc-type classification (postprocess.py:77-97) --------------------


def q_doc_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    probe = (
        F.when(F.col("doc_id") % 5 == 0, F.concat(F.col("text"), F.lit(" Certificat de résidence")))
        .when(F.col("doc_id") % 5 == 1, F.concat(F.col("text"), F.lit(" Demande d'autorisation")))
        .when(F.col("doc_id") % 5 == 2, F.concat(F.col("text"), F.lit(" Autorisation de construire")))
        .when(F.col("doc_id") % 5 == 3, F.concat(F.col("text"), F.lit(" DÉCLARATION!")))
        .otherwise(F.col("text"))
    )
    return d.select("doc_id", classify_doc_type(probe).alias("doc_type"))


_DOC_TYPE_SQL = f"""
SELECT doc_id,
  CASE
    WHEN contains(fold, 'certificat') OR contains(low, 'شهادة') THEN 'certificate'
    WHEN contains(fold, 'demande') OR contains(low, 'طلب') THEN 'application'
    WHEN contains(fold, 'autorisation') OR contains(low, 'رخصة') THEN 'authorization'
    WHEN regexp_matches(regexp_replace(fold, '[^a-z]+', '', 'g'), 'd[e]?claration')
         OR contains(low, 'تصريح') THEN 'declaration'
    ELSE NULL
  END AS doc_type
FROM (
  SELECT doc_id, lower(probe) AS low,
         translate(lower(probe), '{ACCENTED}', '{UNACCENTED}') AS fold
  FROM (
    SELECT doc_id,
      CASE doc_id % 5
        WHEN 0 THEN text || ' Certificat de résidence'
        WHEN 1 THEN text || ' Demande d''autorisation'
        WHEN 2 THEN text || ' Autorisation de construire'
        WHEN 3 THEN text || ' DÉCLARATION!'
        ELSE text
      END AS probe
    FROM documents
  )
)
"""


# --- V3-V6 field normalizers over synthesized raw values ------------------


def q_field_normalizers(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer")
    k = F.col("c_custkey")
    cin_raw = F.concat(F.lit("ab-"), (F.lit(12345) + k % 80000).cast("string"))
    date_raw = F.concat(
        (k % 31 + 1).cast("string"), F.lit("."),
        (k % 12 + 1).cast("string"), F.lit("."),
        F.when(k % 3 == 0, F.lpad((k % 100).cast("string"), 2, "0"))
        .otherwise((F.lit(1925) + k % 100).cast("string")),
    )
    phone_raw = F.when(
        k % 5 == 0, F.lit("123")
    ).otherwise(F.concat(F.lit("06"), F.lpad((k % 100000000).cast("string"), 8, "0")))
    receipt_raw = F.concat(
        (F.lit(2020) + k % 6).cast("string"), F.lit("-"),
        (F.lit(100) + k % 900).cast("string"),
    )
    cin = normalize_field(F.lit("cin"), cin_raw)
    dat = normalize_field(F.lit("date"), date_raw)
    tel = normalize_field(F.lit("tel"), phone_raw)
    rec = normalize_field(F.lit("receipt"), receipt_raw)
    return c.select(
        "c_custkey",
        cin["value"].alias("cin_value"), cin["valid"].alias("cin_valid"),
        dat["value"].alias("date_value"), dat["valid"].alias("date_valid"),
        tel["value"].alias("tel_value"), tel["valid"].alias("tel_valid"),
        rec["value"].alias("receipt_value"), rec["valid"].alias("receipt_valid"),
    )


_FIELD_NORM_SQL = """
WITH raws AS (
  SELECT c_custkey,
         'ab-' || CAST(12345 + c_custkey % 80000 AS VARCHAR) AS cin_raw,
         CAST(c_custkey % 31 + 1 AS VARCHAR) || '.' ||
         CAST(c_custkey % 12 + 1 AS VARCHAR) || '.' ||
         CASE WHEN c_custkey % 3 = 0
              THEN lpad(CAST(c_custkey % 100 AS VARCHAR), 2, '0')
              ELSE CAST(1925 + c_custkey % 100 AS VARCHAR) END AS date_raw,
         CASE WHEN c_custkey % 5 = 0 THEN '123'
              ELSE '06' || lpad(CAST(c_custkey % 100000000 AS VARCHAR), 8, '0')
         END AS phone_raw,
         CAST(2020 + c_custkey % 6 AS VARCHAR) || '-' ||
         CAST(100 + c_custkey % 900 AS VARCHAR) AS receipt_raw
  FROM customer
), parsed AS (
  SELECT c_custkey, cin_raw, date_raw, phone_raw, receipt_raw,
         regexp_extract(upper(cin_raw), '([A-Z]{1,2})\\s*[- ]?([0-9]{5,6})', 1) AS cg1,
         regexp_extract(upper(cin_raw), '([A-Z]{1,2})\\s*[- ]?([0-9]{5,6})', 2) AS cg2,
         regexp_extract(replace(replace(date_raw, '.', '/'), '-', '/'),
                        '([0-9]{1,2})/([0-9]{1,2})/([0-9]{2,4})', 1) AS dd,
         regexp_extract(replace(replace(date_raw, '.', '/'), '-', '/'),
                        '([0-9]{1,2})/([0-9]{1,2})/([0-9]{2,4})', 2) AS dm,
         regexp_extract(replace(replace(date_raw, '.', '/'), '-', '/'),
                        '([0-9]{1,2})/([0-9]{1,2})/([0-9]{2,4})', 3) AS dy,
         regexp_replace(phone_raw, '\\D+', '', 'g') AS pd,
         regexp_extract(receipt_raw, '([0-9]{1,6}(?:[/-][0-9]{2,4}){1,3})', 1) AS rg
  FROM raws
), phone2 AS (
  SELECT *,
         CASE WHEN pd LIKE '212%' THEN substring(pd, 4) ELSE pd END AS pd1
  FROM parsed
), phone3 AS (
  SELECT *, CASE WHEN pd1 LIKE '0%' THEN substring(pd1, 2) ELSE pd1 END AS pd2
  FROM phone2
), dated AS (
  SELECT *,
         CAST(dd AS INTEGER) AS d_i, CAST(dm AS INTEGER) AS m_i,
         CASE WHEN CAST(dy AS INTEGER) < 50 THEN CAST(dy AS INTEGER) + 2000
              WHEN CAST(dy AS INTEGER) < 100 THEN CAST(dy AS INTEGER) + 1900
              ELSE CAST(dy AS INTEGER) END AS y_i
  FROM phone3
)
SELECT c_custkey,
       CASE WHEN cg1 != '' THEN cg1 || cg2
            ELSE trim(regexp_replace(cin_raw, '\\s+', ' ', 'g')) END AS cin_value,
       cg1 != '' AS cin_valid,
       CASE WHEN dd != '' AND d_i BETWEEN 1 AND 31 AND m_i BETWEEN 1 AND 12
                 AND y_i BETWEEN 1900 AND 2100
            THEN printf('%04d-%02d-%02d', y_i, m_i, d_i)
            ELSE trim(regexp_replace(date_raw, '\\s+', ' ', 'g')) END AS date_value,
       (dd != '' AND d_i BETWEEN 1 AND 31 AND m_i BETWEEN 1 AND 12
        AND y_i BETWEEN 1900 AND 2100) AS date_valid,
       CASE WHEN length(pd2) = 9 THEN '+212' || pd2
            ELSE trim(regexp_replace(phone_raw, '\\s+', ' ', 'g')) END AS tel_value,
       length(pd2) = 9 AS tel_valid,
       CASE WHEN rg != '' THEN replace(rg, '-', '/')
            ELSE trim(regexp_replace(receipt_raw, '\\s+', ' ', 'g')) END AS receipt_value,
       rg != '' AS receipt_valid
FROM dated
"""


# --- R2 reading order as pure relational ops (window functions) -----------


def q_reading_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R2 line-binning + RTL-majority sort (reading_order.py:44-59)
    expressed with window functions over synthesized token positions:
    x = (i%6)*90, line = i//6, lang arabic iff (doc_id + i*i) % 5 < 2.
    row_number gives the reading order."""
    d = documents(spark, sf_dir)
    toks = F.slice(words(F.col("text")), 1, 24)
    w = d.select("doc_id", F.posexplode(toks).alias("i", "word"))
    w = w.select(
        "doc_id", "i", "word",
        (F.col("i") % 6 * 90).alias("x"),
        (F.col("i") / 6).cast("int").alias("line"),
        ((F.col("doc_id") + F.col("i") * F.col("i")) % 5 < 2).alias("is_ar"),
    )
    lw = Window.partitionBy("doc_id", "line")
    w = w.withColumn(
        "rtl",
        F.sum(F.col("is_ar").cast("int")).over(lw)
        > F.count("*").over(lw) / F.lit(2.0),
    )
    ow = Window.partitionBy("doc_id").orderBy(
        "line", F.when(F.col("rtl"), -F.col("x")).otherwise(F.col("x")), "i"
    )
    return (
        w.withColumn("ord", F.row_number().over(ow) - 1)
        .select("doc_id", "ord", "word")
        .orderBy("doc_id", "ord")
    )


_READING_ORDER_SQL = """
WITH toks AS (
  SELECT doc_id, u.i - 1 AS i, u.w AS word
  FROM (
    SELECT doc_id,
           list_slice(regexp_split_to_array(trim(text), '\\s+'), 1, 24) AS tl
    FROM documents
  ), LATERAL (
    SELECT unnest(tl) AS w, generate_subscripts(tl, 1) AS i
  ) u
), pos AS (
  SELECT doc_id, i, word,
         (i % 6) * 90 AS x,
         i // 6 AS line,
         ((doc_id + i * i) % 5) < 2 AS is_ar
  FROM toks
), voted AS (
  SELECT *,
         sum(CASE WHEN is_ar THEN 1 ELSE 0 END)
           OVER (PARTITION BY doc_id, line)
           > count(*) OVER (PARTITION BY doc_id, line) / 2.0 AS rtl
  FROM pos
)
SELECT doc_id,
       row_number() OVER (
         PARTITION BY doc_id
         ORDER BY line, CASE WHEN rtl THEN -x ELSE x END, i) - 1 AS ord,
       word
FROM voted ORDER BY doc_id, ord
"""


def q_french_ocr_fixes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E8 French OCR confusion fixes (french.py:59-68) as native
    translate: '|'→'I', '1'→'l', trim — applied to text with injected
    confusables."""
    from ocr_intern_spark.functions.normalizers import fix_french_ocr

    d = table(spark, sf_dir, "documents")
    noisy = F.concat(F.lit(" |dent1f1ant| "), F.col("text"), F.lit(" v1lle "))
    return d.select("doc_id", fix_french_ocr(noisy).alias("fixed"))


_FRENCH_FIX_SQL = """
SELECT doc_id,
       trim(translate(' |dent1f1ant| ' || text || ' v1lle ', '|1', 'Il')) AS fixed
FROM documents
"""


# --- F2/north-star: link-density boilerplate strip -------------------------


def q_boilerplate_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The block-classification core of the pipeline (Boilerpipe-style
    link-density cut + anchor strip), oracle-checked against DuckDB on
    anchor-rich text synthesized from the documents table: the first
    five words are wrapped in an <a> tag, so short documents cross the
    1/3 linked-chars threshold and long ones don't.

    Uses the PRODUCTION helpers (`_linked_chars`, `_clean_text` from
    operators/extract.py), so this pins the exact expressions the
    flagship pipeline runs — including the instr() fast-path guard."""
    from ocr_intern_spark.operators.extract import (
        LINK_DENSITY_CUTOFF,
        _clean_text,
        _linked_chars,
    )

    d = documents(spark, sf_dir)
    toks = words(F.col("text"))
    head = F.array_join(F.slice(toks, 1, 5), " ")
    tail = F.array_join(
        F.slice(toks, 6, F.greatest(F.size(toks) - 5, F.lit(0))), " "
    )
    html = F.concat(
        F.lit('<a href="/nav">'), head, F.lit("</a> "), tail
    )
    d = d.select("doc_id", html.alias("html"))
    density = _linked_chars(F.col("html")).cast("double") / F.length("html")
    cleaned = _clean_text(F.col("html"))
    return d.select(
        "doc_id",
        F.round(density, 6).alias("link_density"),
        ((density <= F.lit(LINK_DENSITY_CUTOFF)) & (F.length(cleaned) > 0)).alias(
            "keep"
        ),
        cleaned.alias("cleaned"),
    )


_BOILERPLATE_SQL = """
WITH html AS (
  SELECT doc_id,
         '<a href="/nav">'
         || array_to_string(list_slice(toks, 1, 5), ' ')
         || '</a> '
         || array_to_string(list_slice(toks, 6, len(toks)), ' ') AS html
  FROM (
    SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks
    FROM documents
  )
), scored AS (
  SELECT doc_id, html,
         CAST(coalesce(list_sum(list_transform(
             regexp_extract_all(html, '(?s)<a\\b[^>]*>(.*?)</a>', 1),
             s -> length(s))), 0) AS DOUBLE) / length(html) AS density,
         trim(regexp_replace(
             regexp_replace(html, '(?s)</?a\\b[^>]*>', '', 'g'),
             '\\s+', ' ', 'g')) AS cleaned
  FROM html
)
SELECT doc_id,
       round(density, 6) AS link_density,
       (density <= 1.0/3.0 AND length(cleaned) > 0) AS keep,
       cleaned
FROM scored
"""


# --- north-star: Boilerpipe block classification over HTML ------------------

_BLOCK_RE = r"(?s)<(?:nav|p|footer)>(.*?)</(?:nav|p|footer)>"
_ANCHOR_INNER_RE = r"(?s)<a[^>]*>(.*?)</a>"
_ANCHOR_TAG_RE = r"(?s)</?a\b[^>]*>"


def q_html_block_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerpipe's NumWordsRulesClassifier (Kohlschütter et al.,
    WSDM 2010 — the published decision-tree thresholds from the
    boilerpipe reference implementation) over a synthesized multi-
    block HTML page: the CONTEXTUAL rule the whole-document density
    cut (extract_boilerplate_strip) cannot express, because a block's
    class depends on its NEIGHBORS:

        curr.link_density > 0.333            → boilerplate
        elif prev.link_density <= 0.555:
            content iff curr.words > 16 or next.words > 15
                     or prev.words > 4
        else:
            content iff curr.words > 40 or next.words > 17

    Link density is Boilerpipe's: tokens inside anchors / tokens in
    the block (anchor TEXT counts in both numerator and denominator)
    — the all-links <nav>/<footer> blocks hit exactly 1.0 and die on
    the 0.333 rule, and because their density also exceeds 0.555,
    the FIRST paragraph is judged by the stricter else-branch.

    Page synthesis per doc (both engines identically): a <nav> of
    three word-links, the doc text as <p> paragraphs of 12 words
    (even doc_id) or 18 words (odd doc_id), a 2-link <footer>. The
    varying paragraph sizes drive every threshold: words>16 (18-word
    paras), nw>17 (first para of odd docs, judged under the
    high-prev-density branch), pw>4 and short-tail paragraphs. The
    classifier itself is generic — it reads ONLY the html column.

    Plan: narrow codegen (regex extract + HOFs) feeding one window
    over (doc_id, block idx) — a single exchange, blocks never leave
    their doc's partition."""
    d = documents(spark, sf_dir)
    toks = words(F.col("text"))
    nav = F.concat(
        F.lit("<nav><a href='/h'>"), F.element_at(toks, 1),
        F.lit("</a> <a href='/a'>"),
        F.coalesce(F.try_element_at(toks, F.lit(2)), F.lit("x")),
        F.lit("</a> <a href='/b'>"),
        F.coalesce(F.try_element_at(toks, F.lit(3)), F.lit("y")),
        F.lit("</a></nav>"),
    )
    csize = (F.lit(12) + (F.col("doc_id") % 2) * 6).cast("int")
    nchunks = F.ceil(F.size(toks) / csize).cast("int")
    paras = F.array_join(
        F.transform(
            F.sequence(F.lit(0), F.greatest(nchunks - 1, F.lit(0))),
            lambda i: F.concat(
                F.lit("<p>"),
                F.array_join(F.slice(toks, i * csize + 1, csize), " "),
                F.lit("</p>"),
            ),
        ),
        "",
    )
    footer = F.lit("<footer><a href='/c'>contact</a> <a href='/l'>legal</a></footer>")
    html = F.concat(nav, paras, footer)

    blocks = d.select(
        "doc_id",
        F.posexplode(F.regexp_extract_all(html, F.lit(_BLOCK_RE), F.lit(1))).alias(
            "idx", "block"
        ),
    )
    no_anchor = F.regexp_replace(F.col("block"), _ANCHOR_TAG_RE, "")
    n_words = token_count(no_anchor)
    linked_words = F.aggregate(
        F.regexp_extract_all(F.col("block"), F.lit(_ANCHOR_INNER_RE), F.lit(1)),
        F.lit(0),
        lambda acc, s: acc + token_count(s),
    )
    scored = blocks.select(
        "doc_id", "idx",
        n_words.alias("words"),
        F.when(n_words == 0, F.lit(0.0))
        .otherwise(linked_words.cast("double") / n_words)
        .alias("ld"),
    )
    w = Window.partitionBy("doc_id").orderBy("idx")
    ctx = scored.select(
        "doc_id", "idx", "words", "ld",
        F.lag("words", 1, 0).over(w).alias("pw"),
        F.lead("words", 1, 0).over(w).alias("nw"),
        F.lag("ld", 1, 0.0).over(w).alias("pld"),
    )
    is_content = F.when(F.col("ld") > 0.333, F.lit(False)).otherwise(
        F.when(
            F.col("pld") <= 0.555,
            (F.col("words") > 16) | (F.col("nw") > 15) | (F.col("pw") > 4),
        ).otherwise((F.col("words") > 40) | (F.col("nw") > 17))
    )
    return ctx.select(
        "doc_id", "idx", "words",
        F.round("ld", 6).alias("link_density"),
        is_content.alias("is_content"),
    ).orderBy("doc_id", "idx")


_HTML_BLOCKS_SQL = r"""
WITH pages AS (
  SELECT doc_id,
         '<nav><a href=''/h''>' || toks[1]
         || '</a> <a href=''/a''>' || coalesce(toks[2], 'x')
         || '</a> <a href=''/b''>' || coalesce(toks[3], 'y')
         || '</a></nav>'
         || array_to_string(
              list_transform(range(0, greatest(CAST(ceil(len(toks) / CAST(cs AS DOUBLE)) AS INT) - 1, 0) + 1),
                             i -> '<p>' || array_to_string(list_slice(toks, i * cs + 1, i * cs + cs), ' ') || '</p>'),
              '')
         || '<footer><a href=''/c''>contact</a> <a href=''/l''>legal</a></footer>'
           AS html
  FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks,
               CAST(12 + (doc_id % 2) * 6 AS INT) AS cs
        FROM documents)
),
blocks AS (
  SELECT doc_id, u.i - 1 AS idx, u.block
  FROM (SELECT doc_id,
               regexp_extract_all(html, '(?s)<(?:nav|p|footer)>(.*?)</(?:nav|p|footer)>', 1) AS bl
        FROM pages),
       LATERAL (SELECT unnest(bl) AS block, generate_subscripts(bl, 1) AS i) u
),
scored AS (
  SELECT doc_id, idx, words,
         CASE WHEN words = 0 THEN 0.0
              ELSE CAST(coalesce(list_sum(list_transform(
                     regexp_extract_all(block, '(?s)<a[^>]*>(.*?)</a>', 1),
                     s -> CASE WHEN length(trim(s)) = 0 THEN 0
                               ELSE len(regexp_split_to_array(trim(s), '\s+'))
                          END)), 0) AS DOUBLE) / words
         END AS ld
  FROM (
    SELECT doc_id, idx, block,
           CASE WHEN length(trim(regexp_replace(block, '(?s)</?a\b[^>]*>', '', 'g'))) = 0
                THEN 0
                ELSE len(regexp_split_to_array(trim(regexp_replace(block, '(?s)</?a\b[^>]*>', '', 'g')), '\s+'))
           END AS words
    FROM blocks
  )
),
ctx AS (
  SELECT doc_id, idx, words, ld,
         coalesce(lag(words) OVER w, 0) AS pw,
         coalesce(lead(words) OVER w, 0) AS nw,
         coalesce(lag(ld) OVER w, 0.0) AS pld
  FROM scored
  WINDOW w AS (PARTITION BY doc_id ORDER BY idx)
)
SELECT doc_id, idx, words,
       round(ld, 6) AS link_density,
       CASE WHEN ld > 0.333 THEN FALSE
            WHEN pld <= 0.555 THEN (words > 16 OR nw > 15 OR pw > 4)
            ELSE (words > 40 OR nw > 17)
       END AS is_content
FROM ctx
ORDER BY doc_id, idx
"""


def q_template_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7 template-type detection over the full 5-template set
    (hybrid_ocr_gui.py:104-120). The synthetic corpus text never
    mentions the Moroccan template names, so a deterministic probe
    phrase — one of the five template names or a no-match filler,
    picked by doc_id % 6 — is appended to each document before
    detection; both engines derive the probe identically, making the
    cascade itself the thing under test. Constant codegen'd
    when-cascade, zero shuffle besides the final sort."""
    from ocr_intern_spark.sources.templates import TEMPLATES, detect_template_type

    d = table(spark, sf_dir, "documents")
    probes = [t.name for t in TEMPLATES.values()] + ["aucun document"]
    pick = F.element_at(
        F.array(*[F.lit(p) for p in probes]),
        (F.col("doc_id") % 6 + 1).cast("int"),
    )
    probed = F.concat(F.col("text"), F.lit(" "), pick)
    return d.select(
        "doc_id", detect_template_type(probed).alias("template_id")
    ).orderBy("doc_id")


def _template_detect_sql() -> str:
    from ocr_intern_spark.sources.templates import TEMPLATES

    probes = [t.name for t in TEMPLATES.values()] + ["aucun document"]
    arms = []
    for tid, t in TEMPLATES.items():
        fr = t.name.lower().replace("'", "''")
        ar = t.name_ar.replace("'", "''")
        arms.append(
            f"WHEN contains(lower(probed), '{fr}') "
            f"OR contains(probed, '{ar}') THEN '{tid}'"
        )
    case = "CASE " + " ".join(arms) + " ELSE 'unknown' END"
    probe_arms = " ".join(
        f"WHEN {i} THEN '{p.replace(chr(39), chr(39) * 2)}'"
        for i, p in enumerate(probes)
    )
    return f"""
SELECT doc_id, {case} AS template_id
FROM (
  SELECT doc_id,
         text || ' ' || (CASE doc_id % 6 {probe_arms} END) AS probed
  FROM documents
) ORDER BY doc_id
"""


# --- line-wrap de-hyphenation ------------------------------------------------

DEHYPH_EVERY = 7  # 1-based token position p is wrapped iff
                  # (doc_id + p) % DEHYPH_EVERY == 0 and len(word) >= 4


def q_dehyphenate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Line-wrap hyphenation repair — the PDF/column text-extraction
    cleanup step (pdftotext/Grobid both ship it): a word broken
    across a line as "exam-\\nple" is rejoined to "example" when
    letters flank the break. The wrapped input is synthesized
    deterministically (both engines identically): every token at
    1-based position p with (doc_id + p) % DEHYPH_EVERY == 0 and
    length >= 4 is split at its midpoint with "-\\n" inserted; the
    REPAIR is the generic regex (\\S)-\\n(\\S) -> \\1\\2, and
    `restored` pins that repair(wrap(text)) round-trips to the
    whitespace-normalized original — the repair is verified, not just
    counted.

    Breaks are >= DEHYPH_EVERY tokens apart, so the non-overlapping
    replace semantics (identical in Java regex and RE2) never meet
    adjacent matches.

    Scale shape: pure per-row narrow projection inside whole-stage
    codegen — split, indexed transform, two regex passes, md5; no
    shuffle before the presentation sort. A 100 TB corpus runs this
    as a map-only stage fused with whatever scan feeds it."""
    d = documents(spark, sf_dir)
    toks = F.slice(words(F.col("text")), 1, 24)
    norm = F.array_join(toks, " ")
    half = lambda w: (F.length(w) / 2).cast("int")
    wrapped = F.array_join(
        F.transform(
            toks,
            lambda w, i: F.when(
                ((F.col("doc_id") + i + 1) % DEHYPH_EVERY == 0)
                & (F.length(w) >= 4),
                F.concat(
                    w.substr(F.lit(1), half(w)),
                    F.lit("-\n"),
                    w.substr(half(w) + 1, F.length(w)),
                ),
            ).otherwise(w),
        ),
        " ",
    )
    repaired = F.regexp_replace(wrapped, r"(\S)-\n(\S)", r"$1$2")
    return d.select(
        "doc_id",
        F.regexp_count(wrapped, F.lit(r"(\S)-\n(\S)")).cast("int").alias(
            "n_repairs"
        ),
        (repaired == norm).alias("restored"),
        F.md5(repaired).alias("repaired_md5"),
    ).orderBy("doc_id")


_DEHYPH_SQL = f"""
WITH base AS (
  SELECT doc_id,
         list_slice(regexp_split_to_array(trim(text), '\\s+'), 1, 24) AS toks
  FROM documents
),
w AS (
  SELECT doc_id,
         array_to_string(toks, ' ') AS norm,
         array_to_string(list_transform(toks, (w, i) ->
           CASE WHEN (doc_id + i) % {DEHYPH_EVERY} = 0 AND len(w) >= 4
                THEN substr(w, 1, len(w) // 2) || '-' || chr(10)
                     || substr(w, len(w) // 2 + 1)
                ELSE w END), ' ') AS wrapped
  FROM base
)
SELECT doc_id,
       CAST(len(regexp_extract_all(wrapped, '(\\S)-\\n(\\S)')) AS INT)
         AS n_repairs,
       regexp_replace(wrapped, '(\\S)-\\n(\\S)', '\\1\\2', 'g') = norm
         AS restored,
       md5(regexp_replace(wrapped, '(\\S)-\\n(\\S)', '\\1\\2', 'g'))
         AS repaired_md5
FROM w ORDER BY doc_id
"""


# --- mojibake (encoding-damage) repair ---------------------------------------

# Common UTF-8-bytes-read-as-Latin-1/cp1252 sequences and their true
# characters (the ftfy class of fix, Speer 2019; every web-crawl
# pipeline ships a variant). Fixed repair ORDER — multi-char sequences
# first — so no output of one rule can re-match a later rule.
MOJIBAKE_TABLE = (
    ("â€™", "’"),  # â€™ → ’
    ("â€œ", "“"),  # â€œ → “
    ("Ã©", "é"),        # Ã© → é
    ("Ã¨", "è"),        # Ã¨ → è
    ("Ã¼", "ü"),        # Ã¼ → ü
    ("Ã±", "ñ"),        # Ã± → ñ
)


def q_mojibake_repair(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Encoding-damage detection + repair: count the classic UTF-8-
    read-as-Latin-1 sequences and replace each with its true
    character; the md5 of the REPAIRED text pins the repair itself
    cross-engine, and `clean` documents (no damage injected) are the
    false-positive guard.

    Damage synthesis (both engines identically): doc_id%4 picks a
    payload — accented-word class (cafÃ© rÃ©sumÃ©), punctuation class
    (â€™ â€œ), umlaut/eñe class (Ã¼ber maÃ±ana... via table pairs) or
    NOTHING. The detector/repairer reads only the text column.

    Scale shape: a pure per-row projection — 6 chained replaces + 6
    counts inside whole-stage codegen; no shuffle before the
    presentation sort. Map-only at any corpus size."""
    d = documents(spark, sf_dir)
    did = F.col("doc_id")
    mod4 = did % 4
    probe = F.concat(
        F.trim(F.col("text")),
        F.when(mod4 == 0, F.lit(" cafÃ© rÃ©sumÃ©s trÃ¨s"))
        .when(mod4 == 1, F.lit(" itâ€™s â€œquoted"))
        .when(mod4 == 2, F.lit(" Ã¼ber maÃ±ana"))
        .otherwise(F.lit("")),
    )
    # occurrence counts via length difference — no regex, and the
    # count runs over the ORIGINAL probe exactly as the oracle does
    # (the table's patterns are mutually non-creating, so order is
    # irrelevant for counting)
    n_bad = None
    repaired = probe
    for bad, good in MOJIBAKE_TABLE:
        cnt = (
            (F.length(probe) - F.length(F.replace(probe, F.lit(bad), F.lit(""))))
            / len(bad)
        ).cast("int")
        n_bad = cnt if n_bad is None else n_bad + cnt
        repaired = F.replace(repaired, F.lit(bad), F.lit(good))
    return d.select(
        "doc_id",
        n_bad.cast("int").alias("n_mojibake"),
        (n_bad == 0).alias("clean"),
        F.md5(repaired).alias("repaired_md5"),
    ).orderBy("doc_id")


def _mojibake_sql() -> str:
    probe = """trim(text) || CASE CAST(doc_id % 4 AS INT)
      WHEN 0 THEN ' cafÃ© rÃ©sumÃ©s trÃ¨s'
      WHEN 1 THEN ' itâ€™s â€œquoted'
      WHEN 2 THEN ' Ã¼ber maÃ±ana'
      ELSE '' END"""
    counts = " + ".join(
        f"(len(p) - len(replace(p, '{bad}', ''))) // {len(bad)}"
        for bad, _ in MOJIBAKE_TABLE
    )
    rep = "p"
    for bad, good in MOJIBAKE_TABLE:
        rep = f"replace({rep}, '{bad}', '{good}')"
    return f"""
WITH d AS (SELECT doc_id, {probe} AS p FROM documents)
SELECT doc_id,
       CAST({counts} AS INT) AS n_mojibake,
       ({counts}) = 0 AS clean,
       md5({rep}) AS repaired_md5
FROM d ORDER BY doc_id
"""


# --- span-stream language runs (gaps-and-islands) ----------------------------

_RUN_AR_MARK = " شهادة"  # injected Arabic marker (docs are homogeneous)


def q_span_lang_runs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language SEGMENTATION of the interleaved span stream — the
    post-extraction step that turns per-span script guesses (V13)
    into contiguous language RUNS, so downstream routing (Arabic
    reshaping, French OCR fixes, per-language tokenizers) operates on
    runs instead of flapping span-by-span. Spans are the flagship's
    8-word text chunks in reading order; every third span (doc_id +
    ord ≡ 0 mod 3) carries an injected Arabic marker — the corpus is
    language-homogeneous, so mixing is synthesized deterministically,
    same convention as q_lang_guess — which makes run boundaries
    dense and the islands logic non-vacuous at every sf.

    The gaps-and-islands classic, distributed: island key = ord −
    row_number() over (doc_id, lang ORDER BY ord); both windows
    partition by doc_id so no frame exceeds a document's span count.
    One exchange on doc_id total (Spark co-plans the two window specs
    and the final (doc_id, lang, grp) aggregate on the same
    clustering)."""
    d = table(spark, sf_dir, "documents")
    from ocr_intern_spark.functions.normalizers import guess_lang

    toks = words(F.col("text"))
    nchunks = F.greatest(
        F.ceil(F.size(toks) / F.lit(8)).cast("int"), F.lit(1)
    )
    spans = d.select(
        "doc_id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), nchunks - 1),
                lambda i: F.array_join(F.slice(toks, i * 8 + 1, 8), " "),
            )
        ).alias("ord", "chunk"),
    )
    probe = F.when(
        (F.col("doc_id") + F.col("ord")) % 3 == 0,
        F.concat(F.col("chunk"), F.lit(_RUN_AR_MARK)),
    ).otherwise(F.col("chunk"))
    langed = spans.select(
        "doc_id", "ord", guess_lang(probe).alias("lang")
    )
    grp = F.col("ord") - F.row_number().over(
        Window.partitionBy("doc_id", "lang").orderBy("ord")
    )
    runs = langed.select(
        "doc_id", "ord", "lang", grp.alias("grp")
    )
    return (
        runs.groupBy("doc_id", "lang", "grp")
        .agg(
            F.min("ord").alias("run_start"),
            F.max("ord").alias("run_end"),
            F.count("*").alias("n_spans"),
        )
        .select("doc_id", "run_start", "run_end", "lang", "n_spans")
        .orderBy("doc_id", "run_start")
    )


_SPAN_LANG_RUNS_SQL = f"""
WITH base AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks
  FROM documents
),
spans AS (
  SELECT doc_id, CAST(u.i AS INT) AS ord,
         array_to_string(list_slice(toks, u.i * 8 + 1, u.i * 8 + 8), ' ')
           AS chunk
  FROM base, LATERAL (
    SELECT unnest(range(greatest(CAST(ceil(len(toks) / 8.0) AS INT), 1)))
      AS i
  ) u
),
langed AS (
  SELECT doc_id, ord,
         CASE
           WHEN regexp_matches(probe, '[؀-ۿ]') THEN 'arabic'
           WHEN regexp_matches(lower(probe), '[a-z]') THEN 'french'
           ELSE NULL
         END AS lang
  FROM (
    SELECT doc_id, ord,
           CASE WHEN (doc_id + ord) % 3 = 0
                THEN chunk || '{_RUN_AR_MARK}'
                ELSE chunk END AS probe
    FROM spans
  )
),
runs AS (
  SELECT doc_id, ord, lang,
         ord - row_number() OVER (PARTITION BY doc_id, lang ORDER BY ord)
           AS grp
  FROM langed
)
SELECT doc_id,
       CAST(min(ord) AS INT) AS run_start,
       CAST(max(ord) AS INT) AS run_end,
       lang,
       count(*) AS n_spans
FROM runs
GROUP BY doc_id, lang, grp
ORDER BY doc_id, run_start
"""


QUERIES = {
    "extract_doc_type": (q_doc_type, _DOC_TYPE_SQL),
    "extract_template_detect": (q_template_detect, _template_detect_sql()),
    "extract_field_normalizers": (q_field_normalizers, _FIELD_NORM_SQL),
    "extract_reading_order": (q_reading_order, _READING_ORDER_SQL),
    "extract_french_ocr_fixes": (q_french_ocr_fixes, _FRENCH_FIX_SQL),
    "extract_boilerplate_strip": (q_boilerplate_strip, _BOILERPLATE_SQL),
    "extract_html_block_classify": (q_html_block_classify, _HTML_BLOCKS_SQL),
    "extract_dehyphenate": (q_dehyphenate, _DEHYPH_SQL),
    "extract_mojibake_repair": (q_mojibake_repair, _mojibake_sql()),
    "extract_span_lang_runs": (q_span_lang_runs, _SPAN_LANG_RUNS_SQL),
}
