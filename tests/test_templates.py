"""Full 5-template set (S3) + template-type detection (A7) + per-doc
template selection wiring (A7→T3), VERDICT r1 item 2.

Per-template goldens mirror the reference's template semantics
(assets/templates/morocco_templates.json; scripts/test_extractor_assoc.py):
for EACH template, the Spark operator must equal the pure-Python
oracle field-for-field on the same recognizer."""

import pandas as pd
from pyspark.sql import functions as F

from ocr_intern_spark.oracle.template import extract_template_fields
from ocr_intern_spark.operators.template_fields import (
    _choose,
    _select_fields,
    make_fields_stage,
    template_fields,
    template_fields_auto,
)
from ocr_intern_spark.sources.corpus import (
    SPANS_DDL,
    corpus_to_spark,
    make_corpus,
    stub_ocr_tokens,
)
from ocr_intern_spark.sources.templates import TEMPLATES, detect_template_type


def test_loader_full_template_set():
    assert list(TEMPLATES) == [
        "assoc_receipt", "certificat_residence",
        "attestation_administrative", "autorisation_construction",
        "extrait_naissance",
    ]
    t = TEMPLATES["assoc_receipt"]
    # flattened in section order, exactly the reference loader's order
    assert t.field_tuples()[:4] == (
        ("title", "fr", "french"),
        ("title", "ar", "arabic"),
        ("header", "commune.fr", "french"),
        ("header", "commune.ar", "arabic"),
    )
    assert len(t.regions) == 8
    assert t.required_fields[0] == "title.fr"
    # region OCR knobs survive the load
    rcpt = next(r for r in t.regions if r.name == "receipt_no")
    assert rcpt.whitelist == "0123456789/-" and rcpt.scale == 1.35
    assert len(TEMPLATES["extrait_naissance"].regions) == 10
    assert len(TEMPLATES["autorisation_construction"].regions) == 11


def test_detect_template_type(spark):
    rows = [
        ("d1", "Vu le Certificat de Résidence délivré ce jour"),
        ("d2", "wasl وصل الإيداع – الدار البيضاء 2024/123"),
        ("d3", "ATTESTATION ADMINISTRATIVE n° 55"),
        ("d4", "رخصة البناء rue 5"),
        ("d5", "extrait de naissance de l'an 1999"),
        ("d6", "facture d'électricité"),  # no template → unknown
        # first-match order: assoc_receipt name_ar appears AND
        # certificat name appears — assoc_receipt is first in file order
        ("d7", "certificat de résidence وصل الإيداع – الدار البيضاء"),
    ]
    df = spark.createDataFrame(rows, "doc_id string, text string")
    got = {
        r["doc_id"]: r["tid"]
        for r in df.select(
            "doc_id", detect_template_type(F.col("text")).alias("tid")
        ).collect()
    }
    assert got == {
        "d1": "certificat_residence",
        "d2": "assoc_receipt",
        "d3": "attestation_administrative",
        "d4": "autorisation_construction",
        "d5": "extrait_naissance",
        "d6": "unknown",
        "d7": "assoc_receipt",
    }


def test_spark_matches_oracle_per_template(spark):
    """Golden per template (VERDICT item 2 'done' criterion)."""
    n = 12
    docs_df = corpus_to_spark(spark, n, seed=9, partitions=2)
    media_refs = [
        s["media_ref"]
        for d in make_corpus(n, seed=9)
        for s in d["spans"]
        if s["kind"] == "media" and s["media_ref"]
    ]
    assert media_refs
    for tid, tpl in TEMPLATES.items():
        ft = tpl.field_tuples()
        got = {
            (r["media_ref"], r["field_key"]):
                (r["value"], r["norm"], r["valid"], r["type"],
                 round(r["conf"], 9), r["lang"])
            for r in template_fields(docs_df, stub_ocr_tokens, template=ft).collect()
        }
        expected = {}
        for ref in media_refs:
            for rec in extract_template_fields(ref, stub_ocr_tokens, template=ft):
                expected[(ref, rec["field_key"])] = (
                    rec["value"], rec["norm"], rec["valid"], rec["type"],
                    round(rec["conf"], 9), rec["lang"],
                )
        assert got == expected, f"template {tid} diverges from oracle"
        assert len(got) == len(media_refs) * len(ft)


def test_vectorized_select_equals_choose_spec():
    """_select_fields (production) ≡ _choose (oracle-shaped spec) on a
    frame covering: valid/invalid candidates, digit candidates with
    and without digit_conf, receipt boost on/off, empty regions."""
    agg = pd.DataFrame(
        {
            "best_text": ["big", "2024/1234", "", "zz", "Reçu"],
            "base_conf": [50.0, 10.0, 0.0, 50.0, 80.0],
            "digit_conf": [float("nan"), 90.0, float("nan"), float("nan"), 22.0],
            "joined": ["small big", "abc 2024/1234", "", "zz", "Reçu 2024/1234"],
            "field_key": ["body.x", "body.receipt_no", "body.y", "body.cin",
                          "body.receipt_no"],
        }
    )
    vec = _select_fields(agg)
    for i in range(len(agg)):
        v, nrm, valid, typ, conf = _choose(agg.iloc[[i]], agg["field_key"].iloc[i])
        assert vec["value"].iloc[i] == v
        assert vec["norm"].iloc[i] == nrm
        assert bool(vec["valid"].iloc[i]) == valid
        assert vec["type"].iloc[i] == typ
        assert float(vec["conf"].iloc[i]) == conf


def test_template_fields_auto_selects_per_doc(spark):
    rows = [
        ("d1", [("text", "dossier certificat de résidence", "", 0),
                ("media", "", "img://a1", 1)]),
        ("d2", [("text", "extrait de naissance 1999", "", 0),
                ("media", "", "img://b2", 1)]),
        ("d3", [("text", "aucun modèle connu", "", 0),
                ("media", "", "img://c3", 1)]),  # unknown → no rows
        ("d4", [("text", "certificat de résidence bis", "", 0)]),  # no media
    ]
    df = spark.createDataFrame(rows, SPANS_DDL)
    out = template_fields_auto(df, stub_ocr_tokens, partitions=2).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], set()).add(
            (r["template_id"], r["field_key"])
        )
    assert set(by_doc) == {"d1", "d2"}
    assert {t for t, _ in by_doc["d1"]} == {"certificat_residence"}
    assert len(by_doc["d1"]) == len(TEMPLATES["certificat_residence"].regions)
    assert {t for t, _ in by_doc["d2"]} == {"extrait_naissance"}
    assert len(by_doc["d2"]) == len(TEMPLATES["extrait_naissance"].regions)
    # field values themselves match the oracle run with that template
    expected = {
        rec["field_key"]: rec["value"]
        for rec in extract_template_fields(
            "img://a1", stub_ocr_tokens,
            template=TEMPLATES["certificat_residence"].field_tuples(),
        )
    }
    got = {r["field_key"]: r["value"] for r in out if r["doc_id"] == "d1"}
    assert got == expected


def test_fields_stage_carries_each_docs_template_id():
    """Two docs share one media_ref under different templates: every
    output row carries its OWN doc's template_id and that template's
    fields, and the stage emits no pandas warning (the output is built
    whole, never assigned into a column selection)."""
    import warnings

    by_id = {tid: t.field_tuples() for tid, t in TEMPLATES.items()}
    pdf = pd.DataFrame(
        {
            "doc_id": ["d1", "d2"],
            "template_id": ["certificat_residence", "extrait_naissance"],
            "media_ref": ["img://shared", "img://shared"],
        }
    )
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        stage = make_fields_stage(stub_ocr_tokens, templates_by_id=by_id)
        out = pd.concat(list(stage(iter([pdf]))))
    for doc, tid in zip(pdf["doc_id"], pdf["template_id"]):
        rows = out[out["doc_id"] == doc]
        assert set(rows["template_id"]) == {tid}
        assert set(rows["field_key"]) == {
            f"{s}.{n}" for s, n, _ in by_id[tid]
        }
    assert len(out) == sum(len(by_id[t]) for t in pdf["template_id"])
