"""Driver contract for the spark-graft builder (PySpark target).

entry()   — flagship extraction pipeline over spans derived from the
            sf0.001 documents table.
queries() — every oracle-checked operator (SURVEY.md §2 + the
            training-data-pipeline set), one callable per name.
oracle_sql() — matching DuckDB ANSI SQL for each (omitted only for
            the full media/OCR pipeline, which is pinned instead by
            the pytest golden suite against the pure-Python oracle).
"""

from __future__ import annotations

from collections.abc import Callable

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
    toks = F.split(F.trim(F.col("text")), r"\s+")
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


# The correctness driver checks the FIRST 50 entries of queries() per
# round, so ordering is rotated each round to give every name a driver
# row. Round-5 window (VERDICT r4 "Next round" #1, verbatim):
#   1. extract_span_regression — the standing north-rule gate (per-doc
#      span-sequence equality vs the golden fixtures) gets its first
#      driver row;
#   2. the first 49 never-driver-checked names from the r4 _DEFERRED
#      backlog, in their original registration order (session-14 set
#      first — newest, least externally verified; every name carries a
#      builder-recorded ×3-sf local hash-exact check and a serial
#      reference pin in tests/test_session1N_queries.py).
# All 50 r4-window names (hash-green in CORRECTNESS_r04.json) rotate to
# _BACK. Union of r01..r05 driver rows then covers 193/257 names; the
# remaining 64 stay in _DEFERRED with local ×3-sf verification (the
# 257th, text_curation_skyline, registered in r5 straight to
# _DEFERRED). r6 is the optimization round: the registry and this
# window are FROZEN — the four r5 driver reds are already inside it
# (slots 4/42/46/48), so their canonicalized forms re-certify without
# a rotation.
_FRONT = [
    # (1) the north-rule span-sequence regression gate:
    "extract_span_regression",
    # (2) the 49 oldest-registered never-driver-checked names
    # (session-14 registrations, in registration order):
    "customer_survival_km",
    "events_acf",
    "events_attribution",
    "orders_benford_audit",
    "events_hll_sketch",
    "orders_seasonal_decompose",
    "dedup_ppjoin_prefix",
    "dedup_bloom_fpr_audit",
    "dedup_record_linkage",
    "sim_geo_grid_join",
    "table_delete_vector_apply",
    "table_hilbert_order",
    "events_abtest_chi2",
    "events_path_trigrams",
    "orders_backlog_aging",
    "events_cuped_adjust",
    "stream_hll_sketch",
    "graph_random_walks",
    "events_ses_forecast",
    "table_clustering_depth_audit",
    "multimodal_scene_cuts",
    "events_bootstrap_ci",
    "text_cdc_shift_certificate",
    "multimodal_phash_band_neardup",
    "table_vacuum_orphans",
    "events_markov_stationary",
    "sim_centroid_drift",
    "events_did_estimator",
    "orders_price_index",
    "orders_returns_shrinkage",
    "stream_cms_sketch",
    "events_power_analysis",
    "text_term_burstiness",
    "events_interarrival_cv",
    "graph_local_clustering",
    "late_order_priority",
    "part_supplier_variety",
    "bracket_revenue",
    "extract_mojibake_repair",
    "text_readability_fk",
    "text_sample_alpha",
    "events_sketch_accuracy",
    "stream_windowed_append",
    "source_interleaved_scan",
    "ship_priority_mix",
    "events_daily_type_pivot",
    "events_daily_gap_fill",
    "product_profit_by_nation",
    "events_daily_type_unpivot",
]

# Names intentionally outside this round's 50-slot window: the driver
# checks 50 of 256 per round, and 113 names entered r5 with no driver
# row, so 64 necessarily remain deferred. Each carries a DuckDB oracle
# verified hash-exact locally at sf0.001/0.01/0.1 (tools/check_oracle.py
# sweeps recorded in COVERAGE.md: 247/247 and 255/255 full-registry
# runs) plus a serial reference pin in its session test file. Ordering
# is registration order; these lead _BACK so they head the r6 window.
_DEFERRED: list[str] = [
    # session-14 registrations not drained by the r5 window (6 names):
    "sim_margin_pair_mining",
    "stream_session_window",
    "graph_knn_bfs_hops",
    "forecast_revenue_change",
    "events_peak_concurrency",
    "events_nearest_error_gap",
    # session-10 registrations (CDC MERGE, anchor-text graph,
    # incremental IVF maintenance):
    "events_merge_upsert",
    "graph_anchor_text",
    "sim_ivf_delta_assign",
    # session-11 registrations (table-maintenance planning, quantized
    # recall, SimHash-64, HITS, streaming joins, modularity, CCNet
    # buckets, LSH sweeps, pack/quality/expectation audits):
    "table_compaction_plan",
    "sim_binary_quant_recall",
    "dedup_simhash_hamming64",
    "graph_hits",
    "sim_matryoshka_recall",
    "table_zonemap_prune_stats",
    "stream_stream_join",
    "dedup_cc_incremental",
    "events_salted_type_totals",
    "sim_ivf_recall_curve",
    "graph_community_modularity",
    "multimodal_audio_chunk_plan",
    "text_ccnet_buckets",
    "extract_span_lang_runs",
    "dedup_lsh_banding_sweep",
    "multimodal_image_tile_plan",
    "text_pack_efficiency_report",
    "events_quality_expectations",
    "events_props_schema_drift",
    "events_activity_bitmap",
    "stream_static_enrich",
    "table_partition_skew_report",
    "graph_degree_assortativity",
    "dedup_minhash_est_error",
    "text_langid_confusion",
    # session-12/13 registrations (snapshot expiry, column stats, CDC
    # chunks, salted dim join, phash dedup, pareto front, IVM retract,
    # CMS heavy hitters, bitemporal as-of, RFM, Gini, ROUGE, WAU):
    "text_bm25_eval",
    "table_snapshot_expiry_plan",
    "table_column_stats",
    "text_cdc_chunks",
    "events_salted_dim_join",
    "multimodal_phash_dedup",
    "pareto_customers",
    "sim_cluster_topterms",
    "stream_late_drop_audit",
    "events_session_overlap",
    "events_ivm_retract",
    "events_cms_heavy_hitters",
    "multimodal_caption_align",
    "market_basket_pairs",
    "events_user_growth",
    "graph_link_predict",
    "customer_k_anonymity",
    "events_target_encode_loo",
    "table_shard_manifest",
    "text_contrastive_views",
    "cohort_ltv_triangle",
    "events_cusum_changepoints",
    "events_bitemporal_asof",
    "multimodal_modality_balance",
    "customer_rfm_segments",
    "events_gini_concentration",
    "text_rouge_neardup_audit",
    "revenue_concentration",
    "events_wau_stickiness",
    # session-15 registration (VERDICT r4 stretch #7: the second
    # pareto_front consumer — the (cost, quality) corpus-curation
    # skyline) — the r5 window is reserved for backlog draining, so
    # it enters deferred with local ×3-sf hash-exact verification:
    "text_curation_skyline",
]
# _DEFERRED names lead _BACK so their position is deterministic
# (directly after the window) and the two lists can never drift apart.
# After the deferred block: the 50 r4-window names (every one
# hash-green in CORRECTNESS_r04.json), then the older rotated-out
# names, all green in r01-r03.
_BACK = _DEFERRED + [
    # the full r4 window, rotated out with fresh r04 hash rows:
    "text_dsir_select",
    "extract_table_grid",
    "dedup_incremental_batch",
    "dedup_lsh_quality",
    "events_twap",
    "graph_triangle_stats",
    "sim_int8_quant_recall",
    "sim_knn_join_topk",
    "sim_mmr_select",
    "text_bigram_logprob",
    "text_langid_ngram",
    "text_length_histogram",
    "text_pack_sequences",
    "text_quality_curriculum_bins",
    "text_stratified_sample",
    "text_unigram_logprob",
    "text_winnow_fingerprints",
    "text_winnow_shared_pairs",
    "export_fanout",
    "extract_template_fields_auto",
    "extract_full_pipeline",
    "extract_doc_confidence",
    "extract_template_fields",
    "text_zipf_fit",
    "min_cost_supplier",
    "dominant_part_suppliers",
    "text_pii_redact",
    "dedup_url_canonical",
    "multimodal_interleave_filter",
    "extract_dehyphenate",
    "unshipped_order_revenue",
    "nation_trade_volume",
    "returned_item_customers",
    "late_sole_supplier",
    "text_line_dedup",
    "text_source_cap",
    "dedup_ngram_containment",
    "customer_order_distribution",
    "major_revenue_parts",
    "large_order_customers",
    "multimodal_frame_sample",
    "stream_events_summary",
    "stream_dedup_fingerprint",
    "stream_resume_checkpoint",
    "dedup_minhash_fast",
    "dedup_minhash_fast_lsh_buckets",
    "market_share_by_year",
    "top_supplier_revenue",
    "events_error_follows_click",
    "customer_spend_deciles",
    # older rotated-out names (green in r01-r03):
    "events_rate_anomaly",
    "text_pmi_collocations",
    "text_source_kl_drift",
    "text_source_vocab_overlap",
    "text_heaps_fit",
    "events_transition_matrix",
    "sim_embedding_outliers",
    "text_rrf_fusion",
    "events_state_history",
    "text_bpe_learn_merges",
    "sim_hard_negatives",
    "text_quality_classifier",
    "sim_pq_adc_recall",
    "graph_label_propagation",
    "events_funnel",
    "text_bm25_search",
    "dedup_fuzzy_vocab_pairs",
    "dedup_split_leakage_safe",
    "graph_provenance_rank",
    "text_span_dedup",
    "text_gopher_quality_flags",
    "text_allpairs_cosine",
    "text_quality_ensemble",
    "text_bpe_apply_fertility",
    "graph_kcore",
    "text_char_entropy",
    "sim_ann_lsh_buckets",
    "sim_cosine_topk",
    "dedup_dup_clusters",
    "dedup_minhash_lsh_buckets",
    "dedup_minhash_signatures",
    "text_deterministic_sample",
    "text_redact_pii",
    "dedup_exact_prefix",
    "dedup_simhash",
    "dedup_fingerprint_count",
    "text_chunk_documents",
    "extract_doc_type",
    "extract_field_normalizers",
    "extract_reading_order",
    "extract_french_ocr_fixes",
    "extract_boilerplate_strip",
    "events_summary",
    "events_by_type",
    "recent_events_top100",
    "pricing_summary",
    "revenue_by_nation",
    "top_customer_per_nation",
    "order_priority_counts",
    "customer_order_gaps",
    "users_click_and_error",
    "users_click_no_error",
    "small_quantity_revenue",
    "brand_promo_revenue",
]


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

    out: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
    for name in _FRONT:
        if name in all_q:
            out[name] = all_q[name]
    for name, fn in all_q.items():
        if name not in out and name not in _BACK:
            out[name] = fn
    for name in _BACK:
        if name in all_q:
            out[name] = all_q[name]
    return out


# Materialized pure-Python-oracle goldens (tools/make_goldens.py) for
# the five queries whose semantics aren't SQL-expressible (stub-OCR
# pipeline, template-region loop, binary renderers). Each parquet
# carries sf0.001 + sf0.01 + sf0.1 expectations keyed by
# (n_docs, text_chars) of the documents table, so one fixed SQL string
# selects the right slice at whatever sf the driver runs.
_GOLDEN_DIR = "/root/repo/tests/goldens"
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
