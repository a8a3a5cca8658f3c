"""Template-field extraction (T3 + A2-A5) — Spark operator vs the
pure-Python oracle, plus hand-pinned unit cases for the quirky bits."""

from ocr_intern_spark.oracle.semantics import Token
from ocr_intern_spark.oracle.template import extract_field, extract_template_fields
from ocr_intern_spark.operators.template_fields import template_fields
from ocr_intern_spark.sources.corpus import corpus_to_spark, make_corpus, stub_ocr_tokens


def tok(text, conf, x=0, y=0, w=10, h=10, lang="fra"):
    return Token(text, conf, x, y, w, h, lang)


def test_area_weighted_best_token():
    # smaller conf but much bigger area wins (A2)
    r = extract_field("body.x", [tok("small", 90, w=2, h=2), tok("big", 30, w=50, h=50)])
    assert r["value"] == "small big" or r["value"] == "big"
    # joined ('small big', len 9) beats initial ('big') on length tie-break
    assert r["value"] == "small big"


def test_receipt_boost_and_digits_candidate():
    # joined "Reçu 2024/1234" wins (valid, same score, longer) but does
    # NOT fullmatch \d{4}/\d{3,5} → no boost: conf = digit_conf
    toks = [tok("Reçu", 80), tok("2024/1234", 22, w=30, h=10)]
    r = extract_field("body.receipt_no", toks)
    assert r["norm"] == "2024/1234" and r["valid"] is True
    assert r["value"] == "Reçu 2024/1234"
    assert r["conf"] == 22.0

    # digits candidate wins on score (digit_conf 90 > base 50) → chosen
    # text fullmatches → boost: max(2*90, 40) = 180 (unbounded, as in
    # the reference)
    r2 = extract_field(
        "body.receipt_no", [tok("abc", 10), tok("2024/1234", 90)]
    )
    assert r2["value"] == "2024/1234" and r2["conf"] == 180.0

    # receipt without format match anywhere: conf = digit_conf unboosted
    r3 = extract_field("body.receipt_no", [tok("12-34", 30)])
    assert r3["conf"] == 30.0


def test_median_is_interpolated():
    # statistics.median of [10, 20] = 15.0 (NOT upper median 20)
    r = extract_field("body.x", [tok("a", 10), tok("b", 20)])
    assert r["conf"] == 15.0


def test_empty_tokens():
    r = extract_field("body.x", [])
    assert r == {
        "value": "", "norm": "", "valid": False, "type": "text", "conf": 0.0,
    }


def test_token_candidate_never_beats_initial_tie():
    # single token, invalid for its key: joined == token == initial →
    # norm stays the initial empty invalid record unless joined wins
    # on length (equal here) — value keeps best_text, norm empty
    r = extract_field("body.cin", [tok("zz", 50)])
    assert r["value"] == "zz" and r["norm"] == "" and r["valid"] is False


def test_spark_operator_matches_oracle(spark):
    n = 40
    docs_df = corpus_to_spark(spark, n, seed=42, partitions=4)
    got = {
        (r["doc_id"], r["media_ref"], r["field_key"]):
            (r["value"], r["norm"], r["valid"], r["type"],
             round(r["conf"], 9), r["lang"])
        for r in template_fields(docs_df, stub_ocr_tokens).collect()
    }
    expected = {}
    for d in make_corpus(n, seed=42):
        for s in d["spans"]:
            if s["kind"] == "media" and s["media_ref"]:
                for rec in extract_template_fields(s["media_ref"], stub_ocr_tokens):
                    expected[(d["doc_id"], rec["media_ref"], rec["field_key"])] = (
                        rec["value"], rec["norm"], rec["valid"], rec["type"],
                        round(rec["conf"], 9), rec["lang"],
                    )
    assert got == expected
    assert len(got) > 100
