"""Driver contract for the spark-graft builder (PySpark target).

entry()   — flagship extraction pipeline over spans derived from the
            sf0.001 documents table.
queries() — every oracle-checked operator (SURVEY.md §2 + the
            training-data-pipeline set), one callable per name, in
            the driver's window order (_window_order).
oracle_sql() — matching DuckDB ANSI SQL for each (omitted only for
            the full media/OCR pipeline, which is pinned instead by
            the pytest golden suite against the pure-Python oracle).
"""

from __future__ import annotations

import json
import re
from collections.abc import Callable
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ocr_intern_spark.functions import text as text_q
from ocr_intern_spark.operators import (
    analytics,
    curation,
    dedup,
    extract_queries,
    layout,
    maintenance,
    retrieval,
    similarity,
    temporal,
)
from ocr_intern_spark.operators.extract import extract
from ocr_intern_spark.sources.corpus import stub_ocr_tokens
from ocr_intern_spark.sources.tables import spread, table
from ocr_intern_spark.streaming import stream_queries

_MODULES = (
    extract_queries, analytics, dedup, similarity, text_q, temporal, layout,
    curation, retrieval, stream_queries, maintenance,
)


def derive_spans(docs: DataFrame) -> DataFrame:
    """Native derivation of the canonical spans schema from the
    driver's flat documents table: 8-word text chunks + one media span
    + one synthesized field span per doc. Pure Catalyst — no UDFs.

    The chunk-building projection is the single most expensive
    expression in the flagship path and Catalyst keeps a projection
    BELOW any later repartition, so it would otherwise run at the
    parquet scan's split count — measured 1 split (one core) for the
    single-file documents table at every sf (r6 profile: 9.4 s serial
    at 10x-sf0.1, sub-second once spread). Spread the RAW rows across
    the cluster first when the scan is under-partitioned (guide §2.5
    input skew)."""
    docs = spread(docs)
    toks = text_q.words(F.col("text"))
    nchunks = F.ceil(F.size(toks) / F.lit(8)).cast("int")
    chunks = F.transform(
        F.sequence(F.lit(0), F.greatest(nchunks - 1, F.lit(0))),
        lambda i: F.struct(
            F.lit("text").alias("kind"),
            F.array_join(F.slice(toks, i * 8 + 1, 8), " ").alias("text"),
            F.lit("").alias("media_ref"),
            i.cast("int").alias("offset"),
        ),
    )
    media = F.array(
        F.struct(
            F.lit("media").alias("kind"),
            F.lit("").alias("text"),
            F.concat(F.lit("img://"), F.col("doc_id").cast("string")).alias(
                "media_ref"
            ),
            nchunks.alias("offset"),
        ),
        F.struct(
            F.lit("field").alias("kind"),
            F.concat(
                F.lit("date: "),
                (F.col("doc_id") % 28 + 1).cast("string"),
                F.lit("/"),
                (F.col("doc_id") % 12 + 1).cast("string"),
                F.lit("/20"),
                F.lpad((F.col("doc_id") % 100).cast("string"), 2, "0"),
            ).alias("text"),
            F.lit("").alias("media_ref"),
            (nchunks + 1).alias("offset"),
        ),
    )
    return docs.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.concat(chunks, media).alias("spans"),
    )


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: full extraction pipeline at sf0.001."""
    docs = table(spark, "/root/testdata/sf0.001", "documents")
    return extract(derive_spans(docs), stub_ocr_tokens)


def _q_extract_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full pipeline (media OCR included) — rows-only check; exact
    semantics are pinned by tests/test_extract_e2e.py."""
    docs = table(spark, sf_dir, "documents")
    out = extract(derive_spans(docs), stub_ocr_tokens)
    return out.select(
        "doc_id", F.posexplode("spans").alias("ord", "s")
    ).select("doc_id", "ord", F.col("s.kind").alias("kind"), F.col("s.text").alias("text"))


def _q_template_fields(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T3+A2-A5 template-field extraction — rows-only check; exact
    semantics pinned by tests/test_template_fields.py vs the oracle."""
    from ocr_intern_spark.operators.template_fields import template_fields

    docs = table(spark, sf_dir, "documents")
    return template_fields(derive_spans(docs), stub_ocr_tokens)


def _q_template_fields_auto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S3+A7+T3 wired: per-doc template detection feeding per-template
    region extraction over all 5 production templates — rows-only
    check; semantics pinned by tests/test_templates.py. A probe span
    naming one of the five templates (or none) is appended per doc so
    the synthetic corpus exercises every template."""
    from ocr_intern_spark.operators.template_fields import template_fields_auto
    from ocr_intern_spark.sources.templates import TEMPLATES

    docs = table(spark, sf_dir, "documents")
    spans = derive_spans(docs)
    probes = [t.name for t in TEMPLATES.values()] + ["aucun document"]
    pick = F.element_at(
        F.array(*[F.lit(p) for p in probes]),
        (F.col("doc_id").cast("long") % 6 + 1).cast("int"),
    )
    probe_span = F.struct(
        F.lit("text").alias("kind"),
        pick.alias("text"),
        F.lit("").alias("media_ref"),
        F.lit(10_000).alias("offset"),
    )
    probed = spans.select(
        "doc_id", F.concat("spans", F.array(probe_span)).alias("spans")
    )
    return template_fields_auto(probed, stub_ocr_tokens)


def _q_export_fanout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S5/S6/S9 distributed export sink — rows-only check (binary
    renders aren't SQL-expressible); renderer structure pinned by
    tests/test_export.py. Emits (doc_id, fmt, n_bytes), one row per
    doc per format."""
    from ocr_intern_spark.sources.export import export_documents

    docs = table(spark, sf_dir, "documents")
    out = export_documents(derive_spans(docs), formats=("pdf", "docx", "xlsx"))
    return out.select("doc_id", "fmt", "n_bytes").orderBy("doc_id", "fmt")


_DS_N_DOCS = 400
_DS_PARTS = 8
_DS_SEED = 42


def _q_source_interleaved_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The custom Python DataSource (sources/datasource.py) driven at
    the package boundary: executor-side range-partitioned generation
    of the interleaved corpus, exploded to one row per span. The
    golden oracle is built by tools/make_goldens.py from make_corpus —
    the DRIVER-side materialization path — so the hash pins the
    DataSource's partition/range machinery (range coverage, per-range
    oversized-id shipping, executor-side generation) against the
    independent driver-side path. Result is sf-independent by design
    (fixed n_docs/seed): the source under test generates its own data."""
    from ocr_intern_spark.sources.datasource import (
        FORMAT_NAME,
        InterleavedCorpusDataSource,
    )

    spark.dataSource.register(InterleavedCorpusDataSource)
    docs = (
        spark.read.format(FORMAT_NAME)
        .option("n_docs", _DS_N_DOCS)
        .option("parts", _DS_PARTS)
        .option("seed", _DS_SEED)
        .load()
    )
    return (
        docs.select("doc_id", F.posexplode("spans").alias("ord", "s"))
        .select(
            "doc_id",
            "ord",
            F.col("s.kind").alias("kind"),
            F.col("s.text").alias("text"),
            F.col("s.media_ref").alias("media_ref"),
            F.col("s.offset").alias("offset"),
        )
        .orderBy("doc_id", "ord")
    )


def _q_doc_confidence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6 overall doc confidence — rows-only check; exact semantics
    pinned by tests/test_doc_confidence.py vs the oracle."""
    from ocr_intern_spark.operators.extract import doc_confidence

    docs = table(spark, sf_dir, "documents")
    out = doc_confidence(derive_spans(docs), stub_ocr_tokens)
    return out.select("doc_id", "n_tokens", F.round("mean_conf", 6).alias("mean_conf"))


def _per_doc_span_fp(df: DataFrame, n_alias: str, fp_alias: str) -> DataFrame:
    """Per-doc order-sensitive span fingerprint: md5 over the ord-sorted
    (kind, text) sequence, \\x1f within a span, \\x1e between spans —
    byte-identical to the DuckDB `string_agg(kind || chr(31) || text,
    chr(30) ORDER BY ord)` form in _SPAN_REGRESSION_SQL."""
    canon = F.transform(
        F.array_sort(F.collect_list(F.struct("ord", "kind", "text"))),
        lambda s: F.concat_ws("\x1f", s["kind"], s["text"]),
    )
    return df.groupBy("doc_id").agg(
        F.count("*").alias(n_alias),
        F.md5(F.concat_ws("\x1e", canon)).alias(fp_alias),
    )


def _q_span_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Standing span-sequence regression gate, driver-hashed: run the
    LIVE flagship pipeline (media OCR included) and compare its span
    sequence per document against the committed pure-Python-oracle
    golden (tools/make_goldens.py), emitting one row per golden doc
    with both sides' span count + order-sensitive fingerprint and a
    span_match verdict. The DuckDB oracle computes the golden-vs-golden
    version of the same rows, so the driver hash is green IFF the live
    pipeline's per-doc span sequences — the north rule's (kind, text,
    order) equality — still equal the golden EXACTLY. Any future drift
    in the extraction path fails the driver loudly, per document,
    instead of waiting for the pytest suite.

    Scale shape: the flagship plan unchanged (one Arrow stage + one
    re-assembly exchange), then two per-doc hash aggregates and one
    doc_id-keyed join; the golden side is metadata-sized. The corpus
    key (n_docs, text_chars) is a 1-row broadcast — the bounded
    scalar-join class. At sfs with no committed golden slice both
    engines emit 0 rows (golden LEFT JOIN live), so the gate degrades
    closed, never spuriously red."""
    live = _per_doc_span_fp(_q_extract_full(spark, sf_dir), "n_spans", "fp")
    docs = table(spark, sf_dir, "documents")
    key = docs.agg(
        F.count("*").alias("_nd"),
        F.sum(F.length("text")).cast("long").alias("_tc"),
    )
    golden = (
        spark.read.parquet(f"{_GOLDEN_DIR}/extract_full_pipeline.parquet")
        .join(
            F.broadcast(key),
            (F.col("n_docs") == F.col("_nd"))
            & (F.col("text_chars") == F.col("_tc")),
        )
        .select("doc_id", "ord", "kind", "text")
    )
    g = _per_doc_span_fp(golden, "golden_n_spans", "golden_fp")
    return (
        g.join(live, "doc_id", "left")
        .select(
            "doc_id",
            "n_spans",
            "fp",
            "golden_n_spans",
            "golden_fp",
            (
                F.col("n_spans").eqNullSafe(F.col("golden_n_spans"))
                & F.col("fp").eqNullSafe(F.col("golden_fp"))
            ).alias("span_match"),
        )
        .orderBy("doc_id")
    )


# The correctness driver checks only the FIRST 50 names of queries() and
# deposits its verdicts as CORRECTNESS_r<N>.json beside this file.
# queries() orders the registry from those rows, so every round's window
# goes where a driver row is most needed (tiers in _window_order). A
# change that alters a query's output adds {name: round} to _CHANGED;
# the entry goes inert once the driver files a row from that round on.
_ROWS_DIR = Path(__file__).resolve().parent
_GATE = "extract_span_regression"
_CHANGED = {
    name: 6
    for name in (
        "dedup_ngram_jaccard", "text_gopher_repetition",
        "text_quality_ensemble", "extract_xycut_order",
        "extract_full_pipeline", "sim_knn_join_topk", "graph_knn_bfs_hops",
        "sim_margin_pair_mining", "sim_semdedup_prune", "text_ccnet_buckets",
    )
}


def _driver_rows() -> dict[int, dict[str, dict]]:
    """{round: {name: verdict row}} from the committed driver files."""
    rows: dict[int, dict[str, dict]] = {}
    for path in _ROWS_DIR.glob("CORRECTNESS_r*.json"):
        m = re.fullmatch(r"CORRECTNESS_r(\d+)\.json", path.name)
        if m:
            rows[int(m.group(1))] = json.loads(path.read_text())
    return rows


def _window_order(names: list[str]) -> list[str]:
    """Driver priority: the span gate, then names whose latest row is
    red, then _CHANGED names with no row from their round, then names
    never checked, then the rest by oldest latest row. The sort is
    stable, so a tier keeps registration order."""
    latest: dict[str, tuple[int, bool]] = {}
    for rnd, rows in sorted(_driver_rows().items()):
        for name, row in rows.items():
            green = all(
                row[k] is True
                for k in ("rows_match", "schema_match", "hash_match")
            )
            latest[name] = (rnd, green)

    def tier(name: str) -> tuple[int, int]:
        rnd, green = latest.get(name, (0, True))
        if name == _GATE:
            return (0, 0)
        if not green:
            return (1, 0)
        if rnd < _CHANGED.get(name, 0):
            return (2, 0)
        if name not in latest:
            return (3, 0)
        return (4, rnd)

    return sorted(names, key=tier)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    all_q: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
    for mod in _MODULES:
        for name, (fn, _sql) in mod.QUERIES.items():
            all_q[name] = fn
    all_q["extract_full_pipeline"] = _q_extract_full
    all_q["extract_template_fields"] = _q_template_fields
    all_q["extract_template_fields_auto"] = _q_template_fields_auto
    all_q["export_fanout"] = _q_export_fanout
    all_q["extract_doc_confidence"] = _q_doc_confidence
    all_q["source_interleaved_scan"] = _q_source_interleaved_scan
    all_q["extract_span_regression"] = _q_span_regression
    return {name: all_q[name] for name in _window_order(list(all_q))}


# Materialized pure-Python-oracle goldens (tools/make_goldens.py) for
# the five queries whose semantics aren't SQL-expressible (stub-OCR
# pipeline, template-region loop, binary renderers). Each parquet
# carries sf0.001 + sf0.01 + sf0.1 expectations keyed by
# (n_docs, text_chars) of the documents table, so one fixed SQL string
# selects the right slice at whatever sf the driver runs.
_GOLDEN_DIR = str(Path(__file__).resolve().parent / "tests" / "goldens")
_GOLDEN_KEY = (
    "n_docs = (SELECT count(*) FROM documents) "
    "AND text_chars = (SELECT sum(length(text)) FROM documents)"
)
_GOLDEN_COLS = {
    "extract_full_pipeline": "doc_id, ord, kind, text",
    "extract_doc_confidence": "doc_id, n_tokens, mean_conf",
    "extract_template_fields": (
        'doc_id, media_ref, field_key, "value", norm, valid, "type", '
        "conf, lang"
    ),
    "extract_template_fields_auto": (
        'doc_id, media_ref, field_key, "value", norm, valid, "type", '
        "conf, lang, template_id"
    ),
    "export_fanout": "doc_id, fmt, n_bytes",
    # xxhash64 fast paths: goldens computed by the pure-Python XXH64
    # spec implementation (oracle/xxh64.py) over DuckDB-extracted
    # shingles — fully Spark-free. Their key columns are k_docs/
    # k_chars because the bucket query emits its own n_docs column.
    "dedup_minhash_fast": (
        "doc_id, mh0, mh1, mh2, mh3, mh4, mh5, mh6, mh7"
    ),
    "dedup_minhash_fast_lsh_buckets": (
        "band, bucket, n_docs, first_doc, last_doc"
    ),
    # custom-DataSource pin: sf-independent (fixed n_docs/seed — the
    # source generates its own data), so no key filter
    "source_interleaved_scan": (
        'doc_id, ord, kind, text, media_ref, "offset"'
    ),
}

_GOLDEN_KEY_ALT = (
    "k_docs = (SELECT count(*) FROM documents) "
    "AND k_chars = (SELECT sum(length(text)) FROM documents)"
)
_ALT_KEY_NAMES = {"dedup_minhash_fast", "dedup_minhash_fast_lsh_buckets"}


_KEYLESS_NAMES = {"source_interleaved_scan"}


def _golden_sql(name: str) -> str:
    if name in _KEYLESS_NAMES:
        return (
            f"SELECT {_GOLDEN_COLS[name]} FROM '{_GOLDEN_DIR}/{name}.parquet'"
        )
    key = _GOLDEN_KEY_ALT if name in _ALT_KEY_NAMES else _GOLDEN_KEY
    return (
        f"SELECT {_GOLDEN_COLS[name]} "
        f"FROM '{_GOLDEN_DIR}/{name}.parquet' WHERE {key}"
    )


# Golden-vs-golden form of _q_span_regression: the oracle emits what
# the Spark side emits when the live pipeline still equals the golden,
# so the driver hash IS the per-doc span-sequence regression verdict.
# Fingerprint form (string_agg ordered by ord, chr(31)/chr(30)
# separators) is byte-identical to _per_doc_span_fp's.
_SPAN_REGRESSION_SQL = f"""
WITH g AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n,
         md5(string_agg(kind || chr(31) || text, chr(30) ORDER BY ord)) AS fp
  FROM '{_GOLDEN_DIR}/extract_full_pipeline.parquet'
  WHERE {_GOLDEN_KEY}
  GROUP BY doc_id
)
SELECT doc_id, n AS n_spans, fp, n AS golden_n_spans, fp AS golden_fp,
       true AS span_match
FROM g ORDER BY doc_id
"""


def oracle_sql() -> dict[str, str]:
    out: dict[str, str] = {}
    for mod in _MODULES:
        for name, (_fn, sql) in mod.QUERIES.items():
            if sql is not None:
                out[name] = sql
    for name in _GOLDEN_COLS:
        out[name] = _golden_sql(name)
    out["extract_span_regression"] = _SPAN_REGRESSION_SQL
    return out
