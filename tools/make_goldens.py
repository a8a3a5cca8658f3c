"""Materialize pure-Python-oracle goldens for the five queries whose
semantics aren't SQL-expressible (stub-OCR pipeline, template regions,
binary renderers). The driver's DuckDB oracle then reads these parquet
files instead of recording `err: no_oracle`, turning the rows-only
entries into real hash-checked rows.

Each golden carries every scale factor in one file, keyed by
(n_docs, text_chars) = (count(*), sum(length(text))) of the documents
table at that sf — computed by DuckDB itself so the key arithmetic is
bit-identical to the driver's oracle engine; the oracle SQL filters
`WHERE n_docs = (SELECT count(*) FROM documents) AND text_chars =
(SELECT sum(length(text)) FROM documents)` so the same fixed SQL
string is correct at sf0.001, sf0.01 and sf0.1 (sf0.001 and sf0.01
both have 500 docs — count alone does not discriminate).

The expected values come from the PURE-PYTHON oracle
(`ocr_intern_spark.oracle.*`) — the independent loop-level
transcription of the reference that the pytest golden suite pins the
Spark operators against — NOT from the Spark operators themselves.
Only the span DERIVATION (input synthesis, no pipeline logic) is
shared with the Spark side.

Usage: python tools/make_goldens.py [sf ...]   (default 0.001 0.01 0.1)
"""

from __future__ import annotations

import sys
from decimal import ROUND_HALF_UP, Decimal
from pathlib import Path

import pandas as pd

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))

GOLDEN_DIR = str(REPO / "tests" / "goldens")


def spark_round6(x: float) -> float:
    """Spark's round(col, 6) on DOUBLE: BigDecimal.valueOf (shortest
    repr) then setScale(6, HALF_UP) — replicated via decimal."""
    return float(Decimal(repr(x)).quantize(Decimal("0.000001"), ROUND_HALF_UP))


def collect_spans(spark, sf_dir: str):
    """(doc_id, spans) pairs exactly as the Spark queries see them —
    derive_spans is input synthesis (pure Catalyst arithmetic over the
    documents table), not pipeline logic, so sharing it keeps the
    golden comparison focused on the operators under test."""
    import __spark_entry__ as entry

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    rows = entry.derive_spans(docs).collect()
    return [
        (
            r["doc_id"],
            [
                {
                    "kind": s["kind"],
                    "text": s["text"],
                    "media_ref": s["media_ref"],
                    "offset": s["offset"],
                }
                for s in r["spans"]
            ],
        )
        for r in rows
    ]


def golden_full_pipeline(docs, key: tuple) -> pd.DataFrame:
    from ocr_intern_spark.oracle.semantics import extract_document
    from ocr_intern_spark.sources.corpus import stub_ocr_tokens

    rows = []
    for doc_id, spans in docs:
        for kind, text, _ref, order in extract_document(spans, stub_ocr_tokens):
            rows.append((*key, doc_id, order, kind, text))
    return pd.DataFrame(rows, columns=["n_docs", "text_chars", "doc_id", "ord", "kind", "text"])


def golden_doc_confidence(docs, key: tuple) -> pd.DataFrame:
    from ocr_intern_spark.oracle.semantics import ocr_media
    from ocr_intern_spark.sources.corpus import stub_ocr_tokens

    rows = []
    for doc_id, spans in docs:
        confs: list[float] = []
        for s in spans:
            if (s["kind"] or "") == "media" and (s["media_ref"] or ""):
                toks = list(stub_ocr_tokens(s["media_ref"]))
                confs.extend(
                    t.conf for t in ocr_media(t for t in toks if t.kind == "ocr")
                )
        mean = sum(confs) / len(confs) if confs else 0.0
        rows.append((*key, doc_id, len(confs), spark_round6(mean)))
    return pd.DataFrame(
        rows, columns=["n_docs", "text_chars", "doc_id", "n_tokens", "mean_conf"]
    )


def _media_refs(spans) -> list[str]:
    return [
        s["media_ref"]
        for s in spans
        if (s["kind"] or "") == "media" and (s["media_ref"] or "")
    ]


FIELD_COLS = [
    "n_docs", "text_chars", "doc_id", "media_ref", "field_key", "value", "norm",
    "valid", "type", "conf", "lang",
]


def golden_template_fields(docs, key: tuple) -> pd.DataFrame:
    from ocr_intern_spark.oracle.template import extract_template_fields
    from ocr_intern_spark.sources.corpus import stub_ocr_tokens

    rows = []
    for doc_id, spans in docs:
        for ref in _media_refs(spans):
            for rec in extract_template_fields(ref, stub_ocr_tokens):
                rows.append(
                    (*key, doc_id, rec["media_ref"], rec["field_key"],
                     rec["value"], rec["norm"], rec["valid"], rec["type"],
                     rec["conf"], rec["lang"])
                )
    return pd.DataFrame(rows, columns=FIELD_COLS)


def detect_template_py(joined_text: str) -> str:
    """Pure mirror of sources.templates.detect_template_type: first
    template in file order whose lowercased French name or Arabic name
    occurs in the lowercased text, else 'unknown'."""
    from ocr_intern_spark.sources.templates import TEMPLATES

    low = joined_text.lower()
    for tid, t in TEMPLATES.items():
        if t.name.lower() in low or t.name_ar in low:
            return tid
    return "unknown"


def golden_template_fields_auto(docs, key: tuple) -> pd.DataFrame:
    """Mirrors _q_template_fields_auto's probe injection: probe text =
    probes[doc_id % 6] appended as a text span, detection over all
    text-kind spans joined with ' '."""
    from ocr_intern_spark.oracle.template import extract_template_fields
    from ocr_intern_spark.sources.corpus import stub_ocr_tokens
    from ocr_intern_spark.sources.templates import TEMPLATES

    probes = [t.name for t in TEMPLATES.values()] + ["aucun document"]
    rows = []
    for doc_id, spans in docs:
        probe = probes[int(doc_id) % 6]
        texts = [s["text"] for s in spans if (s["kind"] or "") == "text"]
        texts.append(probe)
        tid = detect_template_py(" ".join(texts))
        if tid == "unknown":
            continue
        tpl = TEMPLATES[tid].field_tuples()
        for ref in _media_refs(spans):
            for rec in extract_template_fields(ref, stub_ocr_tokens, template=tpl):
                rows.append(
                    (*key, doc_id, rec["media_ref"], rec["field_key"],
                     rec["value"], rec["norm"], rec["valid"], rec["type"],
                     rec["conf"], rec["lang"], tid)
                )
    return pd.DataFrame(rows, columns=FIELD_COLS + ["template_id"])


def golden_export_fanout(docs, key: tuple) -> pd.DataFrame:
    from ocr_intern_spark.sources.export import (
        render_docx,
        render_pdf,
        render_xlsx,
        xlsx_records_from_texts,
    )

    rows = []
    for doc_id, spans in docs:
        texts = [s["text"] for s in spans if s["text"]]
        for fmt in ("pdf", "docx", "xlsx"):
            if fmt == "pdf":
                blob = render_pdf(texts, "OCR Export")
            elif fmt == "xlsx":
                blob = render_xlsx(xlsx_records_from_texts(texts))
            else:
                blob = render_docx(texts, "OCR Export", "تصدير")
            rows.append((*key, doc_id, fmt, len(blob)))
    return pd.DataFrame(rows, columns=["n_docs", "text_chars", "doc_id", "fmt", "n_bytes"])


GOLDENS = {
    "extract_full_pipeline": golden_full_pipeline,
    "extract_doc_confidence": golden_doc_confidence,
    "extract_template_fields": golden_template_fields,
    "extract_template_fields_auto": golden_template_fields_auto,
    "export_fanout": golden_export_fanout,
}


def golden_minhash_fast_frames(sf_dir: str, key: tuple):
    """Signatures + LSH buckets for the xxhash64 fast paths, computed
    WITHOUT Spark: DuckDB produces the no-blur shingle set (the same
    SQL fragment the driver-green md5 signature oracle uses, so the
    tokenization is already proven identical to Spark's) and the
    pure-Python XXH64 spec implementation
    (`ocr_intern_spark.oracle.xxh64`) reproduces Spark's per-type
    encoding and multi-argument chaining bit-for-bit. The key columns
    are k_docs/k_chars because the bucket query's own output has an
    `n_docs` column."""
    import duckdb

    from ocr_intern_spark.operators.dedup import (
        LSH_BANDS,
        MINHASH_SEEDS,
        _MINHASH_SHINGLES_NOBLUR_SQL,
    )
    from ocr_intern_spark.oracle.xxh64 import spark_xxhash64

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS "
        f"SELECT * FROM '{sf_dir}/documents.parquet'"
    )
    pairs = con.execute(_MINHASH_SHINGLES_NOBLUR_SQL).fetchall()
    con.close()

    cache: dict[str, tuple] = {}

    def hashes(sh: str) -> tuple:
        got = cache.get(sh)
        if got is None:
            got = tuple(
                spark_xxhash64(("i32", s), ("str", sh))
                for s in range(MINHASH_SEEDS)
            )
            cache[sh] = got
        return got

    sigs: dict[int, list] = {}
    for doc_id, sh in pairs:
        hs = hashes(sh)
        cur = sigs.get(doc_id)
        if cur is None:
            sigs[doc_id] = list(hs)
        else:
            for s in range(MINHASH_SEEDS):
                if hs[s] < cur[s]:
                    cur[s] = hs[s]

    sig_rows = [
        (key[0], key[1], d, *sig) for d, sig in sorted(sigs.items())
    ]
    sig_df = pd.DataFrame(
        sig_rows,
        columns=["k_docs", "k_chars", "doc_id"]
        + [f"mh{s}" for s in range(MINHASH_SEEDS)],
    )

    rows_per_band = MINHASH_SEEDS // LSH_BANDS
    buckets: dict[tuple, list] = {}
    for d, sig in sigs.items():
        for band in range(LSH_BANDS):
            vals = sig[band * rows_per_band : (band + 1) * rows_per_band]
            bucket = spark_xxhash64(*[("i64", v) for v in vals])
            buckets.setdefault((band, bucket), []).append(d)
    b_rows = [
        (key[0], key[1], band, bucket, len(ds), min(ds), max(ds))
        for (band, bucket), ds in sorted(buckets.items())
        if len(ds) > 1
    ]
    b_df = pd.DataFrame(
        b_rows,
        columns=[
            "k_docs", "k_chars", "band", "bucket",
            "n_docs", "first_doc", "last_doc",
        ],
    )
    b_df["band"] = b_df["band"].astype("int32")
    return sig_df, b_df


def golden_source_interleaved_scan() -> pd.DataFrame:
    """Expected span table for __spark_entry__._q_source_interleaved_scan
    (n_docs=400, parts=8, seed=42) from the driver-side make_corpus
    path — Spark-free, DataSource-free."""
    from ocr_intern_spark.sources.corpus import make_corpus

    rows = []
    for d in make_corpus(400, seed=42):
        for ord_, s in enumerate(d["spans"]):
            rows.append(
                (
                    d["doc_id"],
                    ord_,
                    s["kind"],
                    s["text"],
                    s["media_ref"],
                    s["offset"],
                )
            )
    return pd.DataFrame(
        rows,
        columns=["doc_id", "ord", "kind", "text", "media_ref", "offset"],
    )


def main() -> None:
    import os

    from pyspark.sql import SparkSession

    sfs = sys.argv[1:] or ["0.001", "0.01", "0.1"]
    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.sql.shuffle.partitions", "16")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    os.makedirs(GOLDEN_DIR, exist_ok=True)

    import duckdb

    all_names = list(GOLDENS) + [
        "dedup_minhash_fast",
        "dedup_minhash_fast_lsh_buckets",
    ]
    frames: dict[str, list[pd.DataFrame]] = {k: [] for k in all_names}
    for sf in sfs:
        sf_dir = f"/root/testdata/sf{sf}"
        docs = collect_spans(spark, sf_dir)
        # key computed BY DuckDB so its length()/sum() semantics are
        # bit-identical to the driver's oracle-side subqueries
        n_docs, text_chars = duckdb.sql(
            f"SELECT count(*), sum(length(text)) "
            f"FROM '{sf_dir}/documents.parquet'"
        ).fetchone()
        key = (int(n_docs), int(text_chars))
        assert key[0] == len(docs)
        print(f"sf{sf}: {n_docs} docs, {text_chars} text chars")
        for name, fn in GOLDENS.items():
            pdf = fn(docs, key)
            print(f"  {name}: {len(pdf)} rows")
            frames[name].append(pdf)
        sig_df, b_df = golden_minhash_fast_frames(sf_dir, key)
        print(f"  dedup_minhash_fast: {len(sig_df)} rows")
        print(f"  dedup_minhash_fast_lsh_buckets: {len(b_df)} rows")
        frames["dedup_minhash_fast"].append(sig_df)
        frames["dedup_minhash_fast_lsh_buckets"].append(b_df)

    for name, parts in frames.items():
        out = pd.concat(parts, ignore_index=True)
        path = f"{GOLDEN_DIR}/{name}.parquet"
        out.to_parquet(path, index=False)
        print(f"wrote {path} ({len(out)} rows)")

    # custom-DataSource pin: sf-independent (the source generates its
    # own data at fixed n_docs/seed), built from make_corpus — the
    # DRIVER-side materialization path — so the driver hash pins the
    # DataSource's executor-side range machinery against it
    ds = golden_source_interleaved_scan()
    path = f"{GOLDEN_DIR}/source_interleaved_scan.parquet"
    ds.to_parquet(path, index=False)
    print(f"wrote {path} ({len(ds)} rows)")


if __name__ == "__main__":
    main()
