"""Golden e2e: the Spark pipeline must reproduce the pure-Python
oracle's span sequence EXACTLY, per document, under
(kind, text, media_ref, order) equality — the BASELINE.json invariant.

The corpus is deterministic (seed 42) with interleaved/shuffled spans,
boilerplate, link-density edge cases, malformed media, mixed-language
OCR with overlapping boxes, and an oversized-doc tail.
"""

import re

import pytest
from pyspark.sql.types import StructType

from ocr_intern_spark.oracle.semantics import extract_document
from ocr_intern_spark.operators.extract import (
    classify_documents,
    explode_spans,
    extract,
    transform_plain_spans,
)
from ocr_intern_spark.sources.corpus import (
    corpus_to_spark,
    make_corpus,
    stub_ocr_tokens,
)
from ocr_intern_spark.schema import EXTRACTED_DDL

N_DOCS = 80


@pytest.fixture(scope="module")
def expected():
    docs = make_corpus(N_DOCS, seed=42)
    return {
        d["doc_id"]: [tuple(s) for s in extract_document(d["spans"], stub_ocr_tokens)]
        for d in docs
    }


def test_extract_matches_oracle_exactly(spark, expected):
    docs_df = corpus_to_spark(spark, N_DOCS, seed=42, partitions=6)
    out = extract(docs_df, stub_ocr_tokens, ocr_partitions=6)
    actual = {
        row["doc_id"]: [
            (s["kind"], s["text"], s["media_ref"], s["order"]) for s in row["spans"]
        ]
        for row in out.collect()
    }
    assert set(actual) == set(expected)
    mismatches = {k for k in expected if actual[k] != expected[k]}
    if mismatches:
        k = sorted(mismatches)[0]
        assert actual[k] == expected[k], f"doc {k} (+{len(mismatches)-1} more)"


def test_extract_schema(spark):
    docs_df = corpus_to_spark(spark, 5, seed=42)
    out = extract(docs_df, stub_ocr_tokens)
    assert out.schema.simpleString() == (
        "struct<doc_id:string,spans:array<struct<"
        "kind:string,text:string,media_ref:string,order:int>>>"
    )
    # the DDL cannot state Spark's inferred non-null spans/order, so the
    # types are compared without nullability
    ddl = StructType.fromDDL(EXTRACTED_DDL)
    assert out.schema.simpleString() == ddl.simpleString()


def test_order_is_dense_and_zero_based(spark):
    docs_df = corpus_to_spark(spark, 20, seed=42)
    out = extract(docs_df, stub_ocr_tokens)
    for row in out.collect():
        orders = [s["order"] for s in row["spans"]]
        assert orders == list(range(len(orders)))


def test_classify_documents(spark, expected):
    from ocr_intern_spark.oracle.semantics import classify_doc_type

    docs_df = corpus_to_spark(spark, N_DOCS, seed=42)
    out = classify_documents(extract(docs_df, stub_ocr_tokens))
    actual = {r["doc_id"]: r["doc_type"] for r in out.collect()}
    for doc_id, spans in expected.items():
        joined = " ".join(s[1] for s in spans)
        assert actual[doc_id] == classify_doc_type(joined), doc_id


def test_malformed_media_yields_error_span_not_failure(spark):
    rows = [("d1", [("media", "", None, 0), ("text", "bonjour", "", 1)])]
    df = spark.createDataFrame(
        rows,
        "doc_id string, spans array<struct<kind:string,text:string,"
        "media_ref:string,offset:int>>",
    )
    out = extract(df, stub_ocr_tokens).collect()
    spans = [(s["kind"], s["text"]) for s in out[0]["spans"]]
    assert spans == [("error", "missing media_ref"), ("text", "bonjour")]


def test_every_doc_id_survives(spark):
    """Docs with null/empty/fully-dropped spans still get an output
    row with an empty array (checkpoint/resume requirement)."""
    rows = [
        ("d-null", None),
        ("d-empty", []),
        ("d-dropped", [("boilerplate", "<a>x</a>", "", 0)]),
        ("d-ok", [("heading", "Titre", "", 0)]),
        ("d-blank", [("text", "", "", 0), ("heading", "Titre", "", 1)]),
    ]
    df = spark.createDataFrame(
        rows,
        "doc_id string, spans array<struct<kind:string,text:string,"
        "media_ref:string,offset:int>>",
    )
    got = {r["doc_id"]: [tuple(s) for s in r["spans"]]
           for r in extract(df, stub_ocr_tokens).collect()}
    assert got == {
        "d-null": [],
        "d-empty": [],
        "d-dropped": [],
        "d-ok": [("heading", "Titre", "", 0)],
        "d-blank": [("heading", "Titre", "", 0)],
    }


def test_repeat_extract_build_reuses_span_transform(spark):
    """The span transform's Column tree is built once per SparkContext:
    a second ``extract()`` build on the same session must not pay the
    normalizer cascade's py4j round trips again (~4,900 commands when
    it is rebuilt per call)."""
    docs_df = corpus_to_spark(spark, 5, seed=42)
    extract(docs_df, stub_ocr_tokens)
    client = spark.sparkContext._gateway._gateway_client
    send = client.send_command
    sent = [0]

    def counting(*args, **kwargs):
        sent[0] += 1
        return send(*args, **kwargs)

    client.send_command = counting
    try:
        extract(docs_df, stub_ocr_tokens)
    finally:
        client.send_command = send
    assert sent[0] <= 1000, sent[0]


def test_field_key_and_raw_are_staged_once(spark):
    """The key/raw ``instr(text, ':')`` subtrees live in one narrow
    projection below the normalizer cascade, not inlined into each of
    its branches (368 occurrences when inlined)."""
    docs_df = corpus_to_spark(spark, 5, seed=42)
    plan = (
        transform_plain_spans(explode_spans(docs_df))
        ._jdf.queryExecution().optimizedPlan().toString()
    )
    assert len(re.findall(r"instr\([^()]*, :\)", plan)) <= 4, plan
